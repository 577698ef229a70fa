package graft.plans

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{BatchStats, Bucketing, Sinks, StatsSinks, TxnManifest}
import graft.util.AtomicText

/** Incremental MATERIALIZED VIEWs over graft manifest tables — the
  * Delta "incremental materialized view on a CDF-enabled table"
  * recipe as a first-class engine surface (the reference's analogue
  * is the hand-maintained summary tables its pipelines rebuild from
  * scratch each run, e.g. the per-account rollups around
  * `accounts.py` — here the rebuild cost is O(changed rows), not
  * O(table)).
  *
  * Shape: `CREATE MATERIALIZED VIEW mv LOCATION '<dir>' AS SELECT
  * k1[, k2…], agg(..) AS out[, …] FROM <registered graft table>
  * [JOIN <registered dim table> ON fk = k [AND …]] [WHERE <pred>]
  * GROUP BY k1[, k2…]` with aggs drawn from count(*) / count(c) /
  * count(DISTINCT c) / sum(c) / avg(c) / min(c) / max(c).
  * Anything outside that surface refuses loudly at CREATE — never a
  * silently-wrong refresh.
  *
  * The JOIN form is the star-schema summary (the reference's J1
  * FK-remap + A1 rollup composite, `items.py`-style): keys and
  * aggregate args may come from either side. Maintenance exploits
  * Δ(F ⋈ D) = ΔF ⋈ D when the dim is unmoved — the fact delta joins
  * the (broadcast-sized) dim and folds exactly as the single-table
  * case, an identity that holds for inner joins under bag semantics
  * with NO uniqueness assumption on the dim key. A refresh that
  * finds the DIM moved falls back to one full recompute (group
  * deaths included) — dims move rarely; facts move constantly, and
  * the fact path is the incremental one.
  *
  * REFRESH reads the source's change feed `(lastV, curV]` — the same
  * `table_changes` scan the CDC surface serves — and:
  *  - **additive mode** (no min/max): folds signed deltas
  *    (+1 insert/update_postimage, −1 delete/update_preimage) into
  *    per-group accumulators and MERGEs only the touched groups.
  *    The BASE TABLE IS NEVER READ — refresh cost is O(delta) +
  *    O(touched groups), the 100 TB contract.
  *  - **recompute mode** (any min/max or count(DISTINCT) — not
  *    incrementally maintainable under deletes): deletes are
  *    per-GROUP events, so groups whose delta is insert-only still
  *    FOLD (min/max extend via least/greatest), and only groups a
  *    negative image touched recompute from the base, via a
  *    semi-join the stats/bloom sidecars prune. An insert-only
  *    refresh never reads the base at all; a delete costs O(delta) +
  *    O(delete-touched groups' rows), still never a full rebuild.
  *    count(DISTINCT) never folds (an inserted value may or may not
  *    be new), so its presence sends every touched group to the
  *    recompute arm.
  *
  * Crash safety: the source version consumed by MV batch B is
  * recorded at `<loc>/state/<B>` BEFORE B commits — a crash between
  * the two leaves an inert state file (B never committed, so the
  * effective watermark is still batch B−1's) and the re-run
  * overwrites it. A refresh that double-applied a delta would
  * silently corrupt every accumulator; this ordering makes the
  * apply exactly-once without a transaction spanning two files.
  *
  * The MV's storage is itself a graft manifest table keyed on the
  * group-by columns, so refresh rides [[Sinks.merge]] unchanged:
  * stats-pruned probes, atomic partial-rewrite commits, time travel
  * over refresh history for free.
  */
object GraftMvs {

  /** One aggregate column of the view: `func` ∈ count_star, count,
    * sum, avg, min, max; `arg` is None only for count_star. */
  final case class AggSpec(out: String, func: String, arg: Option[String])

  /** One dim table of a star/snowflake-join view: `pairs` are the
    * normalized `(left col, dim col)` ON equalities — the left side
    * is a column of the ACCUMULATED join frame (the fact, or a dim
    * joined earlier in FROM order), so plain stars and snowflake
    * chains both fold left-to-right; `man` is the manifest path
    * pinned at CREATE ([[MvDef.srcMan]]'s re-registration guard, per
    * dim). `joinType` ∈ {"inner", "left"} — LEFT keeps unmatched-FK
    * fact rows with NULL-extended dim attributes (the reference's
    * workhorse FK-remap join, orders.py:120-140): the fold identity
    * Δ(F ⟕ D) = ΔF ⟕ D holds for fact-preserving left joins exactly
    * like the inner case while the dim is unmoved; a dim INSERT that
    * would flip a NULL-extension is a dim move, which the recompute
    * arm already covers. */
  final case class DimRef(name: String, pairs: Seq[(String, String)],
                          man: Option[String] = None,
                          joinType: String = "inner")

  final case class MvDef(name: String, src: String, groupKeys: Seq[String],
                         aggs: Seq[AggSpec], where: Option[String],
                         outSchema: StructType, storSchema: StructType,
                         dims: Seq[DimRef] = Nil,
                         bucket: Option[String] = None,
                         keyExprs: Seq[(String, String)] = Nil,
                         srcMan: Option[String] = None,
                         maxStalenessMs: Option[Long] = None) {
    def additive: Boolean = aggs.forall(a =>
      a.func != "min" && a.func != "max" && a.func != "count_distinct" &&
        a.func != "hll" && !a.func.startsWith("qtile:"))
    /** Any LEFT-joined dim ⇒ group keys may be NULL (the
      * NULL-extension group is the left join's whole point), so the
      * store's merge identity switches from the key columns to the
      * internal never-NULL [[GKey]] encoding. */
    def hasLeft: Boolean = dims.exists(_.joinType == "left")
    /** Parsed storage-layout bucket spec ([[graft.sources.Bucketing]]). */
    def bucketSpec: Option[graft.sources.Bucketing.Spec] =
      bucket.map(graft.sources.Bucketing.parse)
  }

  private val views =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def norm(n: String): String = n.toLowerCase(Locale.ROOT)

  // ---------------------------------------------- persistent registry
  //
  // The view's DEFINITION already persists at its LOCATION
  // (`mvdef.tsv`); what a new session lacks is the name→location
  // registry. When a [[GraftCatalog]] is configured on the active
  // session, registrations also land as one line at
  // `<warehouse>/_catalog/<name>.mv` — written with the same
  // crash-atomic exclusive-create as table metadata (two racing
  // CREATEs: one wins, one fails loudly, never a torn file) — so
  // SHOW / REFRESH ALL / the transparent rewrite see every view from
  // any session. With no catalog configured the registry stays
  // process-scoped (the original temp-view-like contract).

  /** Warehouse roots of every GraftCatalog configured on the active
    * session. MV names are single-part (not catalog-qualified), so
    * the registry is global — a registration mirrors into EVERY
    * configured warehouse and a lookup accepts any, keeping all
    * catalogs' registries in agreement. */
  private def warehouses(): Seq[String] =
    org.apache.spark.sql.SparkSession.getActiveSession.toSeq.flatMap { s =>
      s.conf.getAll.toSeq.collect {
        case (k, v) if k.startsWith("spark.sql.catalog.") &&
            k.count(_ == '.') == 3 &&
            v == classOf[GraftCatalog].getName =>
          s.conf.getOption(s"$k.warehouse")
      }.flatten.map(_.stripSuffix("/"))
    }.distinct.sorted

  /** Catalog residency needs a filesystem-safe simple name; other
    * names (quoted exotica) stay session-only. */
  private def persistable(n: String): Boolean = n.matches("[A-Za-z0-9_]+")
  private def mvFile(wh: String, n: String) = s"$wh/_catalog/${norm(n)}.mv"

  private def persistedLookup(name: String): Option[String] =
    if (!persistable(name)) None
    else warehouses().iterator.flatMap(wh =>
      AtomicText.readLines(mvFile(wh, name)).headOption
        .map(_.trim).filter(_.nonEmpty)).nextOption()

  /** Mirror the registration into every configured warehouse.
    * Multi-warehouse writes are not atomic as a set, so: (1) check
    * ALL warehouses for an existing name before writing any (the
    * common already-exists case never leaves partial state), and
    * (2) if a later exclusive-create still loses a race or fails,
    * roll back the .mv files already written so no warehouse is left
    * resolving a half-registered name. */
  private def persist(name: String, location: String): Unit =
    if (persistable(name)) {
      val whs = warehouses()
      whs.foreach { wh =>
        require(AtomicText.readLines(mvFile(wh, name)).isEmpty,
          s"materialized view '$name' already exists in the catalog")
      }
      val written = scala.collection.mutable.ArrayBuffer.empty[String]
      try whs.foreach { wh =>
        require(AtomicText.createExclusive(mvFile(wh, name), location + "\n"),
          s"materialized view '$name' already exists in the catalog")
        written += wh
      } catch {
        case e: Throwable =>
          written.foreach { wh =>
            try {
              val p = new org.apache.hadoop.fs.Path(mvFile(wh, name))
              val fs = p.getFileSystem(org.apache.spark.sql.SparkSession
                .active.sessionState.newHadoopConf())
              if (fs.exists(p)) fs.delete(p, false)
            } catch { case scala.util.control.NonFatal(_) => () }
          }
          throw e
      }
    }

  def lookup(name: String): Option[String] =
    Option(views.get(norm(name))).orElse(persistedLookup(name))

  def unregister(name: String): Unit = {
    views.remove(norm(name))
    if (persistable(name)) warehouses().foreach { wh =>
      val p = new org.apache.hadoop.fs.Path(mvFile(wh, name))
      val fs = p.getFileSystem(org.apache.spark.sql.SparkSession.active
        .sessionState.newHadoopConf())
      if (fs.exists(p)) fs.delete(p, false)
    }
    ()
  }

  /** All registered view names (normalized), in-memory and
    * catalog-persisted — the rewrite's candidate walk
    * ([[MvRewrite]]), SHOW, and REFRESH ALL. */
  private[plans] def allViews: Seq[String] = {
    import scala.jdk.CollectionConverters._
    val mem = views.keySet.asScala.toSeq
    val persisted = warehouses().flatMap { wh =>
      val dir = new org.apache.hadoop.fs.Path(s"$wh/_catalog")
      val fs = dir.getFileSystem(org.apache.spark.sql.SparkSession.active
        .sessionState.newHadoopConf())
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".mv"))
        .map(_.getPath.getName.stripSuffix(".mv"))
    }
    (mem ++ persisted).map(norm).distinct.sorted
  }

  /** TEST HOOK: forget the in-memory registry (views persisted via a
    * configured catalog remain addressable — the fresh-session
    * simulation). */
  private[graft] def clearInMemory(): Unit = views.clear()

  /** The view's definition when its last refresh consumed the
    * source's CURRENT manifest version — the gate for serving a
    * query FROM the view's store instead of the base table. A stale
    * or never-refreshed view yields None and the query computes from
    * the base (results never depend on refresh recency). */
  private[plans] def freshFor(spark: SparkSession, name: String)
    : Option[MvDef] = {
    val baseDir = lookup(name).getOrElse(return None)
    val d = scala.util.Try(readDef(baseDir)).getOrElse(return None)
    // the NAME must still resolve to the manifest the view was built
    // over — a re-registration at a different location could align
    // versions by coincidence and serve foreign data as "fresh".
    // An MV-on-MV source resolves to the CHILD's store manifest: the
    // parent is fresh when it consumed the child store's current
    // version (the child's own freshness is the child's question).
    def curOf(src: String, pinned: Option[String]): Option[Int] =
      GraftSqlTables.lookup(src.split('.').toSeq).map(_.manifestPath)
        .orElse(lookup(src).map(manifestPath))
        .filter(p => pinned.forall(_ == p))
        .map(p => new TxnManifest(p).committed()
          .keys.maxOption.getOrElse(-1))
    val curV = curOf(d.src, d.srcMan).getOrElse(return None)
    val curDs = d.dims.map(dim =>
      curOf(dim.name, dim.man).getOrElse(return None))
    val mvMan = new TxnManifest(manifestPath(baseDir))
    val mvB = mvMan.committed().keys.maxOption.getOrElse(-1)
    if (mvB >= 0 && stateFor(baseDir, mvB) == ((curV, curDs))) Some(d)
    else None
  }

  /** The serve gate for the transparent rewrite: FRESH (exact
    * results), or — ONLY when the view opted into `MAX_STALENESS` —
    * refreshed within the declared bound (the Databricks/Delta
    * bounded-staleness contract: at 100 TB, refresh cadence is often
    * slower than query cadence, and a dashboard that accepts
    * n-minutes-old numbers should not re-scan the fact table for
    * them). The clock is the timestamp the last REFRESH stamped into
    * its consumed-version state file — NOT the manifest mtime, which
    * every commit (including OPTIMIZE, which is physical-never-
    * logical) would bump, silently renewing the contract without new
    * data. OPTIMIZE carries the stamp forward; pre-stamp state files
    * fall back to the manifest mtime. Default (no bound declared)
    * stays stale-never-serves, and the source-identity pin still
    * applies: a re-registered source never serves, bounded or not —
    * with sources resolved like [[freshFor]]'s (table path orElse MV
    * store manifest), so a chained parent's bound is honored too. */
  private[plans] def servableFor(spark: SparkSession, name: String)
    : Option[MvDef] =
    freshFor(spark, name).orElse {
      val baseDir = lookup(name).getOrElse(return None)
      val d = scala.util.Try(readDef(baseDir)).toOption.getOrElse(return None)
      d.maxStalenessMs.flatMap { bound =>
        def pinnedOk(src: String, pinned: Option[String]): Boolean =
          GraftSqlTables.lookup(src.split('.').toSeq).map(_.manifestPath)
            .orElse(lookup(src).map(manifestPath))
            .exists(p => pinned.forall(_ == p))
        val mvMan = new TxnManifest(manifestPath(baseDir))
        val mvB = mvMan.committed().keys.maxOption.getOrElse(-1)
        if (mvB < 0) None // never refreshed: nothing to serve
        else if (!pinnedOk(d.src, d.srcMan) ||
            !d.dims.forall(dim => pinnedOk(dim.name, dim.man))) None
        else refreshTsFor(baseDir, mvB)
          .orElse(graft.util.AtomicText.mtime(manifestPath(baseDir))) match {
          case Some(t)
              if System.currentTimeMillis() - t <= bound => Some(d)
          case _ => None
        }
      }
    }

  /** `ALTER MATERIALIZED VIEW ... SET/CLEAR MAX_STALENESS` — rewrites
    * the persisted definition in place (atomic replace). */
  def setMaxStaleness(name: String, ms: Option[Long]): Unit = {
    val baseDir = lookup(name).getOrElse(throw new IllegalArgumentException(
      s"materialized view '$name' is not registered"))
    ms.foreach(v => require(v > 0, s"MAX_STALENESS must be positive, got $v"))
    writeDef(baseDir, readDef(baseDir).copy(maxStalenessMs = ms))
  }

  private def dataRoot(base: String) = s"$base/data"
  private def manifestPath(base: String) = s"$base/manifest.tsv"
  private def defPath(base: String) = s"$base/mvdef.tsv"

  private val GRows = "__grows"
  private def nCol(out: String) = s"__n__$out"
  private def sCol(out: String) = s"__s__$out"

  /** Internal store column carrying the canonical group-key encoding
    * of LEFT-join views — their merge identity ([[gkCol]]). Inner
    * views don't store it (their key columns are never NULL, so key
    * equality is the identity and the round-11 layout stands). */
  private[plans] val GKey = "__gkey"

  /** Canonical, never-NULL string encoding of the group-key tuple.
    * A left-join view's dim-sourced keys are NULL for unmatched-FK
    * fact rows — that NULL group is the left join's whole point — but
    * SQL `=` never matches NULL, so the key columns themselves cannot
    * be the store's merge keys. This encoding is injective by
    * construction: per component, NULL → a lone `\u0000` marker, a
    * value → `v` + a type-canonical rendering (strings escape the
    * separator, timestamps render as epoch micros so the encoding is
    * session-timezone-independent, binary renders base64); components
    * join on `\u0001`. Group-by on the KEY COLUMNS (SQL groups NULLs
    * together) stays the aggregation identity; [[GKey]] is attached
    * after and only carries the merge. */
  private def gkCol(keys: Seq[String], schema: StructType): Column = {
    val parts = keys.map { k =>
      val dt = fieldOf(schema, k).dataType
      val rendered: Column = dt match {
        case StringType =>
          replace(replace(col(k), lit("\\"), lit("\\\\")),
            lit("\u0001"), lit("\\s"))
        case TimestampType => unix_micros(col(k)).cast(StringType)
        case BinaryType    => base64(col(k))
        // groupBy normalizes -0.0 to 0.0 (NormalizeFloatingNumbers),
        // so a per-row render of -0.0 would read "-0.0" and the live
        // row would miss its group's semi-join in the recompute arms;
        // `x + 0.0` maps -0.0 → 0.0 and leaves every other value
        // (incl. NaN, which casts to the single string "NaN") alone
        case FloatType     => (col(k) + lit(0.0f)).cast(StringType)
        case DoubleType    => (col(k) + lit(0.0d)).cast(StringType)
        case _             => col(k).cast(StringType)
      }
      when(col(k).isNull, lit("\u0000"))
        .otherwise(concat(lit("v"), rendered))
    }
    concat_ws("\u0001", parts: _*)
  }

  /** Group-key columns for a refresh aggregation: inner views refuse
    * NULL keys in-plan ([[guardedKeys]] — key-equality merge); LEFT
    * views accept them and merge on [[GKey]] instead. */
  private def groupCols(d: MvDef): Seq[Column] =
    if (d.hasLeft) d.groupKeys.map(col) else guardedKeys(d.groupKeys)

  /** Attach the canonical group-key encoding to a grouped frame
    * (LEFT views only; inner stores stay byte-identical). */
  private def withGk(df: DataFrame, d: MvDef): DataFrame =
    if (d.hasLeft) df.withColumn(GKey, gkCol(d.groupKeys, d.storSchema))
    else df

  /** The store's merge identity: [[GKey]] for LEFT views, the group
    * keys themselves otherwise. */
  private def mergeKeys(d: MvDef): Seq[String] =
    if (d.hasLeft) Seq(GKey) else d.groupKeys

  // ---------------------------------------------------------------- def IO

  private def writeDef(base: String, d: MvDef): Unit = {
    val lines = Seq(
      s"name\t${d.name}",
      s"src\t${d.src}",
      s"keys\t${d.groupKeys.mkString(",")}") ++
      d.dims.map(dim => s"dim\t${dim.name}\t" +
        dim.pairs.map(p => s"${p._1}=${p._2}").mkString(",") +
        s"\t${dim.man.getOrElse("")}\t${dim.joinType}") ++
      d.aggs.map(a => s"agg\t${a.out}\t${a.func}\t${a.arg.getOrElse("")}") ++
      d.keyExprs.map { case (a, s) => s"keyexpr\t$a\t$s" } ++
      d.where.map(w => s"where\t$w").toSeq ++
      d.bucket.map(b => s"bucket\t$b").toSeq ++
      d.srcMan.map(m => s"srcman\t$m").toSeq ++
      d.maxStalenessMs.map(ms => s"staleness\t$ms").toSeq ++ Seq(
      s"outschema\t${d.outSchema.json}",
      s"storschema\t${d.storSchema.json}")
    AtomicText.writeAtomically(defPath(base), lines.mkString("\n") + "\n")
  }

  private[plans] def readDef(base: String): MvDef = {
    val lines = AtomicText.readLines(defPath(base))
    require(lines.nonEmpty, s"no materialized-view definition at $base")
    // a pre-round-11 join-form mvdef used `src2`/`joinon`/`dimman`
    // lines; silently ignoring them would read the view back as
    // single-table — refresh would then fold UNJOINED fact deltas
    // into a joined store (silent corruption) — so fail loudly
    val legacy = lines.collect {
      case l if l.startsWith("src2\t") || l.startsWith("joinon\t") ||
          l.startsWith("dimman\t") => l.takeWhile(_ != '\t')
    }
    require(legacy.isEmpty, s"mvdef at $base uses the legacy join " +
      s"format (${legacy.distinct.mkString(", ")}); this engine reads " +
      "only the dim\\t format — DROP MATERIALIZED VIEW and recreate it " +
      "(or rewrite the mvdef.tsv as dim lines and REFRESH ... FULL)")
    def one(k: String): String = lines.collectFirst {
      case l if l.startsWith(k + "\t") => l.drop(k.length + 1) }.getOrElse(
      throw new IllegalStateException(s"mvdef at $base: missing '$k'"))
    def opt(k: String): Option[String] = lines.collectFirst {
      case l if l.startsWith(k + "\t") => l.drop(k.length + 1) }
    val aggs = lines.filter(_.startsWith("agg\t")).map { l =>
      val p = l.split('\t')
      AggSpec(p(1), p(2), if (p.length > 3 && p(3).nonEmpty) Some(p(3)) else None)
    }
    MvDef(one("name"), one("src"), one("keys").split(',').toSeq, aggs,
      opt("where"),
      DataType.fromJson(one("outschema")).asInstanceOf[StructType],
      DataType.fromJson(one("storschema")).asInstanceOf[StructType],
      dims = lines.filter(_.startsWith("dim\t")).map { l =>
        val p = l.split('\t')
        val jt = if (p.length > 4 && p(4).nonEmpty) p(4) else "inner"
        require(jt == "inner" || jt == "left",
          s"mvdef at $base: unknown dim join type '$jt'")
        DimRef(p(1), p(2).split(',').toSeq.map { pr =>
          val Array(a, b) = pr.split('=')
          (a, b)
        }, if (p.length > 3 && p(3).nonEmpty) Some(p(3)) else None, jt)
      },
      bucket = opt("bucket"),
      keyExprs = lines.filter(_.startsWith("keyexpr\t")).map { l =>
        val p = l.split('\t')
        (p(1), p(2))
      },
      srcMan = opt("srcman"),
      maxStalenessMs = opt("staleness").map(_.trim.toLong))
  }

  // ------------------------------------------------------------- state IO

  /** Source batch id(s) consumed by MV batch `mvBatch` — the fact
    * version followed by one version per dim (in the view's declared
    * dim order); written BEFORE that batch commits (see class doc for
    * the crash argument). */
  private def writeState(base: String, mvBatch: Int, srcV: Int,
                         dimVs: Seq[Int] = Nil,
                         refreshTs: Option[Long] = None): Unit =
    AtomicText.writeAtomically(s"$base/state/$mvBatch",
      (srcV +: dimVs).mkString(",") + "\n" +
        refreshTs.map(t => s"ts\t$t\n").getOrElse(""))

  private def stateFor(base: String, mvBatch: Int): (Int, Seq[Int]) = {
    val l = AtomicText.readLines(s"$base/state/$mvBatch")
    require(l.nonEmpty, s"mv state file missing for committed batch " +
      s"$mvBatch under $base — state must be written before the commit")
    val parts = l.head.trim.split(',').toSeq.map(_.trim.toInt)
    require(parts.nonEmpty, s"malformed mv state for batch $mvBatch " +
      s"under $base: '${l.head}'")
    (parts.head, parts.tail)
  }

  /** Wall-clock millis of the REFRESH that produced MV batch
    * `mvBatch` — the bounded-staleness clock. Refresh stamps it;
    * OPTIMIZE carries the LAST refresh's stamp forward unchanged
    * (compaction is physical, never logical — it must not make a
    * stale view look freshly refreshed). None for pre-stamp state
    * files (the caller falls back to the manifest mtime). */
  private def refreshTsFor(base: String, mvBatch: Int): Option[Long] =
    AtomicText.readLines(s"$base/state/$mvBatch").collectFirst {
      case l if l.startsWith("ts\t") => l.drop(3).trim.toLong
    }

  // ------------------------------------------------------------- parsing

  /** One FROM-clause relation: registered-table name + optional SQL
    * alias. `quals` is every qualifier that addresses it. */
  private[plans] final case class ParsedRel(name: String,
                                            alias: Option[String]) {
    def quals: Seq[String] =
      alias.map(Seq(_)).getOrElse(Seq(name.split('.').last))
        .map(_.toLowerCase(Locale.ROOT))
  }

  /** The CREATE's SELECT body, structurally validated but with
    * qualifiers unresolved — [[create]] resolves names against the
    * actual schemas (parse has no SparkSession). `dims` holds each
    * joined dim relation with its ON expression and join type
    * ("inner" | "left"), in FROM order. */
  private[plans] final case class ParsedSelect(
      fact: ParsedRel,
      dims: Seq[(ParsedRel,
        org.apache.spark.sql.catalyst.expressions.Expression, String)],
      keys: Seq[Seq[String]], aggs: Seq[AggSpec],
      where: Option[org.apache.spark.sql.catalyst.expressions.Expression],
      keyExprs: Seq[(String,
        org.apache.spark.sql.catalyst.expressions.Expression)] = Nil)

  /** Names of the aggregate functions the MV surface maintains — an
    * aliased call to one of these is an aggregate column; any OTHER
    * aliased expression whose alias is a GROUP BY name is a COMPUTED
    * KEY (`date_trunc('day', ts) AS d ... GROUP BY d`). */
  private val AggFuncs =
    Set("count", "sum", "avg", "min", "max", "approx_count_distinct",
      "approx_percentile")

  /** Extract the maintained shape from the CREATE's SELECT body,
    * refusing anything outside it with the unsupported shape named. */
  private[plans] def parseSelect(selectSql: String): ParsedSelect = {
    val plan = CatalystSqlParser.parsePlan(selectSql)
    val agg = plan match {
      case a: Aggregate => a
      case other => throw new IllegalArgumentException(
        "CREATE MATERIALIZED VIEW: the SELECT must be a single " +
          s"GROUP BY aggregation over one table; got ${other.nodeName}")
    }
    val (where, fromPlan) = agg.child match {
      case Filter(cond, ch) => (Some(cond), ch)
      case ch               => (None, ch)
    }
    import org.apache.spark.sql.catalyst.plans.logical.{Join, SubqueryAlias}
    def rel(p: LogicalPlan): Option[ParsedRel] = p match {
      case UnresolvedRelation(parts, _, _) =>
        Some(ParsedRel(parts.mkString("."), None))
      case SubqueryAlias(id, UnresolvedRelation(parts, _, _)) =>
        Some(ParsedRel(parts.mkString("."), Some(id.name)))
      case _ => None
    }
    // FROM: one registered fact, optionally a left-deep chain of
    // INNER / LEFT [OUTER] JOINs to registered dim tables, each with
    // an ON clause
    def unjoin(p: LogicalPlan): (LogicalPlan,
        Seq[(ParsedRel,
          org.apache.spark.sql.catalyst.expressions.Expression, String)]) =
      p match {
        case Join(l, r, jt, Some(c), _)
            if (jt == org.apache.spark.sql.catalyst.plans.Inner ||
              jt == org.apache.spark.sql.catalyst.plans.LeftOuter) &&
              rel(r).isDefined =>
          val (base, ds) = unjoin(l)
          val t = if (jt == org.apache.spark.sql.catalyst.plans.LeftOuter)
            "left" else "inner"
          (base, ds :+ ((rel(r).get, c, t)))
        case other => (other, Nil)
      }
    val (basePlan, dimRels) = unjoin(fromPlan)
    val factRel = rel(basePlan).getOrElse(throw new IllegalArgumentException(
      "CREATE MATERIALIZED VIEW: FROM must be a bare registered " +
        "table, optionally INNER or LEFT JOINed to registered dim " +
        s"tables each with an ON clause; got ${basePlan.nodeName}"))
    // computed keys: an aliased NON-aggregate select item whose alias
    // a GROUP BY element names (or whose expression the GROUP BY
    // repeats verbatim)
    def isAggCall(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Boolean = e match {
      case f: UnresolvedFunction =>
        AggFuncs.contains(f.nameParts.last.toLowerCase(Locale.ROOT))
      case _ => false
    }
    val groupNames = agg.groupingExpressions.collect {
      case a: UnresolvedAttribute => norm(a.nameParts.last)
    }
    val groupSqls = agg.groupingExpressions.collect {
      case e if !e.isInstanceOf[UnresolvedAttribute] => norm(e.sql)
    }
    val keyExprs: Seq[(String,
        org.apache.spark.sql.catalyst.expressions.Expression)] =
      agg.aggregateExpressions.collect {
        case Alias(e, out) if !isAggCall(e) &&
            !e.isInstanceOf[UnresolvedAttribute] &&
            (groupNames.contains(norm(out)) ||
              groupSqls.contains(norm(e.sql))) =>
          require(!e.exists(isAggCall),
            s"CREATE MATERIALIZED VIEW: group-key expression '${e.sql}' " +
              "contains an aggregate")
          out -> e
      }
    val keyExprAliases = keyExprs.map(k => norm(k._1))
    val keys = agg.groupingExpressions.map {
      case a: UnresolvedAttribute => a.nameParts
      case e if keyExprs.exists(k => norm(k._2.sql) == norm(e.sql)) =>
        // GROUP BY repeats the aliased select expression verbatim
        Seq(keyExprs.find(k => norm(k._2.sql) == norm(e.sql)).get._1)
      case other => throw new IllegalArgumentException(
        "CREATE MATERIALIZED VIEW: GROUP BY must list plain columns " +
          "or expressions aliased in the SELECT; got " + other.sql)
    }
    val aggs = agg.aggregateExpressions.flatMap {
      case a: UnresolvedAttribute =>
        val n = a.nameParts.mkString(".")
        require(keys.exists(_.last.equalsIgnoreCase(a.nameParts.last)),
          s"CREATE MATERIALIZED VIEW: select column '$n' is not a " +
            "GROUP BY key and not an aggregate")
        None // served as a key; order follows groupKeys
      case Alias(e, out) if keyExprAliases.contains(norm(out)) &&
          !isAggCall(e) => None // computed key, collected above
      case Alias(f: UnresolvedFunction, out) => Some(parseAgg(f, out))
      case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAlias
          if ua.child.isInstanceOf[UnresolvedFunction] =>
        throw new IllegalArgumentException(
          s"CREATE MATERIALIZED VIEW: alias every aggregate — " +
            s"'${ua.child.sql}' needs AS <name> (the refresh stores it " +
            "by name)")
      case other => throw new IllegalArgumentException(
        "CREATE MATERIALIZED VIEW: select items must be group keys or " +
          s"aliased aggregates; got ${other.sql}")
    }
    require(aggs.nonEmpty, "CREATE MATERIALIZED VIEW: at least one " +
      "aggregate column is required")
    val outs = aggs.map(a => norm(a.out))
    require(outs.distinct.size == outs.size,
      s"CREATE MATERIALIZED VIEW: duplicate output names in " +
        aggs.map(_.out).mkString(", "))
    aggs.foreach(a => require(!a.out.startsWith("__"),
      s"CREATE MATERIALIZED VIEW: output name '${a.out}' collides with " +
        "the engine's internal accumulator prefix '__'"))
    keyExprs.foreach { case (a, _) => require(!a.startsWith("__"),
      s"CREATE MATERIALIZED VIEW: key alias '$a' collides with the " +
        "engine's internal accumulator prefix '__'") }
    // approx_percentile with an explicit accuracy: the stored GK
    // summary has ONE operating point (ε = QuantileSketch.Epsilon),
    // so a 3-arg CREATE must name exactly it (then stores the same
    // qtile:<p> spec the 2-arg form does); any other accuracy is a
    // different estimator the store cannot answer — refuse loudly
    val aggsN = aggs.map { a =>
      a.func.split(':') match {
        case Array("qtile", p, acc) =>
          val want = math.round(1.0 / graft.expressions.QuantileSketch.Epsilon)
          require(acc.toLong == want,
            "CREATE MATERIALIZED VIEW: approx_percentile accuracy " +
              s"$acc does not match the stored GK summary's 1/ε = $want")
          a.copy(func = s"qtile:$p")
        case _ => a
      }
    }
    ParsedSelect(factRel, dimRels, keys, aggsN, where, keyExprs)
  }

  /** Column-reference resolution over the (optionally star-joined)
    * FROM clause: which relation a `[qualifier.]column` addresses,
    * qualifier stripping (stored names and predicates resolve against
    * the joined frame), and ON-clause pair extraction. Shared by
    * CREATE and the star-query rewrite ([[MvRewrite]]) so both
    * resolve references identically. Relation index 0 is the fact;
    * `i ≥ 1` is `dims(i-1)`. */
  private[plans] final class StarResolver(fact: ParsedRel,
                                          factCols: Seq[String],
                                          dims: Seq[(ParsedRel, Seq[String])]) {
    private val factQuals = fact.quals
    private val dimQuals: Seq[Seq[String]] = dims.map(_._1.quals)
    private val allQuals = factQuals ++ dimQuals.flatten
    require(allQuals.distinct.size == allQuals.size,
      "CREATE MATERIALIZED VIEW: FROM relations share a qualifier (" +
        allQuals.diff(allQuals.distinct).distinct.mkString(", ") +
        ") — alias them apart")

    def sideOf(parts: Seq[String]): Int = {
      require(parts.length <= 2, "CREATE MATERIALIZED VIEW: column " +
        s"reference '${parts.mkString(".")}' is too deep — use " +
        "[alias.]column")
      val last = parts.last
      def inF = factCols.exists(_.equalsIgnoreCase(last))
      def dimHits = dims.zipWithIndex.collect {
        case ((_, cols), i) if cols.exists(_.equalsIgnoreCase(last)) => i + 1
      }
      if (parts.length == 2) {
        val q = norm(parts.head)
        if (factQuals.contains(q)) {
          require(inF, s"CREATE MATERIALIZED VIEW: " +
            s"'${parts.mkString(".")}' is not a column of '${fact.name}'")
          0
        } else dimQuals.indexWhere(_.contains(q)) match {
          case -1 => throw new IllegalArgumentException(
            s"CREATE MATERIALIZED VIEW: unknown qualifier " +
              s"'${parts.head}' (have: ${allQuals.mkString(", ")})")
          case i =>
            require(dims(i)._2.exists(_.equalsIgnoreCase(last)),
              s"CREATE MATERIALIZED VIEW: '${parts.mkString(".")}' is " +
                s"not a column of '${dims(i)._1.name}'")
            i + 1
        }
      } else {
        (if (inF) Seq(0) else Nil) ++ dimHits match {
          case Seq(one) => one
          case Seq() => throw new IllegalArgumentException(
            s"CREATE MATERIALIZED VIEW: column '$last' is not in any " +
              "source schema")
          case _ => throw new IllegalArgumentException(
            s"CREATE MATERIALIZED VIEW: column '$last' exists in more " +
              "than one FROM relation — qualify it")
        }
      }
    }

    private def conj(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
      import org.apache.spark.sql.catalyst.expressions.And
      e match {
        case And(l, r) => conj(l) ++ conj(r)
        case x         => Seq(x)
      }
    }

    /** Classify one ON conjunct as `(dim index ≥ 1, left col, dim
      * col)` — every equality must join a dim to an EARLIER relation
      * (the fact, or a dim already joined): star AND snowflake
      * shapes, since the join chain folds left-to-right and each
      * dim's key must already be in the accumulated frame. A
      * same-dim or forward-referencing equality refuses. */
    def classify(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : (Int, String, String) = {
      import org.apache.spark.sql.catalyst.expressions.EqualTo
      e match {
        case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
          (sideOf(a.nameParts), sideOf(b.nameParts)) match {
            case (j, i) if j < i => (i, a.nameParts.last, b.nameParts.last)
            case (i, j) if j < i => (i, b.nameParts.last, a.nameParts.last)
            case _ => throw new IllegalArgumentException(
              "CREATE MATERIALIZED VIEW: each ON equality must join a " +
                "dim table to an EARLIER FROM relation (the fact or a " +
                s"previously joined dim); '${EqualTo(a, b).sql}' does not")
          }
        case other => throw new IllegalArgumentException(
          "CREATE MATERIALIZED VIEW: ON must be a conjunction of " +
            s"column equalities; got '${other.sql}'")
      }
    }

    /** All ON conjuncts of the star, grouped per dim as normalized
      * `(fact col, dim col)` pairs. For an all-INNER star, conjunct
      * placement across the ON clauses is free (inner-join
      * conjunctions commute); every dim must still receive at least
      * one pair — a pairless dim would be a cross join. With
      * `strictPlacement` (any LEFT join present), placement IS
      * semantic — a conjunct in dim i's ON decides which D_i rows
      * match (and so which fact rows NULL-extend), it cannot move to
      * another clause — so every conjunct of ON_i must classify to
      * dim i, refused loudly otherwise. */
    def resolveStarPairs(
        conds: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
        strictPlacement: Boolean = false)
      : Seq[Seq[(String, String)]] = {
      if (strictPlacement) {
        conds.zipWithIndex.foreach { case (c, i) =>
          conj(c).map(classify).foreach { case (d, f, cc) =>
            require(d == i + 1, "CREATE MATERIALIZED VIEW: with a LEFT " +
              s"JOIN, ON placement is semantic — '$f = $cc' sits in the " +
              s"ON of '${dims(i)._1.name}' but joins '${dims(d - 1)._1.name}'" +
              "; move it to that dim's ON clause")
          }
        }
      }
      val classified = conds.flatMap(conj).map(classify)
      dims.indices.map { i =>
        val pairs = classified.collect { case (d, f, c) if d == i + 1 =>
          (f, c) }
        require(pairs.nonEmpty, "CREATE MATERIALIZED VIEW: no ON " +
          s"equality joins '${dims(i)._1.name}' — a pairless dim would " +
          "be a cross join")
        pairs
      }
    }

    /** Strip known relation qualifiers so names resolve against the
      * joined frame (struct access stays intact: only a LEADING part
      * matching a FROM qualifier strips). Validates side membership
      * along the way. */
    def strip(parts: Seq[String]): String =
      if (parts.length == 2) { sideOf(parts); parts.last }
      else { if (dims.nonEmpty) sideOf(parts); parts.mkString(".") }

    def stripQuals(
        e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = e.transform {
      case a: UnresolvedAttribute if a.nameParts.length == 2 &&
          allQuals.contains(norm(a.nameParts.head)) =>
        sideOf(a.nameParts)
        UnresolvedAttribute(Seq(a.nameParts.last))
    }
  }

  private[plans] def parseAgg(f: UnresolvedFunction, out: String): AggSpec = {
    val name = f.nameParts.last.toLowerCase(Locale.ROOT)
    def argCol: String = f.arguments match {
      case Seq(a: UnresolvedAttribute) => a.nameParts.mkString(".")
      case other => throw new IllegalArgumentException(
        s"CREATE MATERIALIZED VIEW: $name takes one plain column, " +
          s"got (${other.map(_.sql).mkString(", ")})")
    }
    if (f.isDistinct) {
      // count(DISTINCT c) maintains in RECOMPUTE mode only: a delete
      // may or may not remove the last occurrence of a value, so no
      // per-group scalar accumulator can fold it — the affected
      // groups re-count from the base (still never a full rebuild).
      // Other DISTINCT aggregates stay refused.
      require(name == "count", "CREATE MATERIALIZED VIEW: DISTINCT " +
        "aggregates other than count are not maintainable — " +
        s"'${f.sql}' refused")
      return AggSpec(out, "count_distinct", Some(argCol))
    }
    name match {
      case "count" => f.arguments match {
        case Seq() | Seq(_: UnresolvedStar) => AggSpec(out, "count_star", None)
        case Seq(Literal(v, IntegerType)) if v == 1 =>
          AggSpec(out, "count_star", None) // parser rewrites count(*) → count(1)
        case _ => AggSpec(out, "count", Some(argCol))
      }
      case "sum" | "avg" | "min" | "max" => AggSpec(out, name, Some(argCol))
      // approximate distinct maintains as a stored HLL SKETCH
      // (DataSketches via hll_sketch_agg): insert-only deltas FOLD by
      // sketch union — register-wise max, commutative and
      // associative — while deletes recompute the touched groups
      // (sketches don't subtract). The estimate, not the exact count,
      // is the declared output; stays out of the transparent rewrite.
      case "approx_count_distinct" => AggSpec(out, "hll", Some(argCol))
      // approximate percentile maintains as a stored GK quantile
      // summary ([[graft.expressions.QuantileSketch]]): insert-only
      // deltas FOLD by summary merge (rank error stays ≤ ε·n), deletes
      // recompute the touched groups. The estimate is the declared
      // output; the rewrite serves it ONLY to queries naming the
      // summary's own accuracy (see [[QuantileSketch]] — HLL stays
      // never-served, a different estimator family).
      case "approx_percentile" =>
        def quantileOf(p: Any): Double = {
          val pd = p match {
            case d: org.apache.spark.sql.types.Decimal => d.toDouble
            case d: Double => d
            case i: Int    => i.toDouble
            case other => throw new IllegalArgumentException(
              "CREATE MATERIALIZED VIEW: approx_percentile's quantile " +
                s"must be a numeric literal, got $other")
          }
          require(pd >= 0.0 && pd <= 1.0,
            s"CREATE MATERIALIZED VIEW: quantile $pd out of [0, 1]")
          pd
        }
        f.arguments match {
          case Seq(a: UnresolvedAttribute, Literal(p, _)) =>
            AggSpec(out, s"qtile:${quantileOf(p)}",
              Some(a.nameParts.mkString(".")))
          // 3-arg form carries the ACCURACY in the spec: the rewrite
          // serves a query's approx_percentile only when its accuracy
          // literal names the stored summary's exact operating point
          // (estimator identity, not just estimator family); CREATE
          // normalizes it away after validating ([[parseSelect]])
          case Seq(a: UnresolvedAttribute, Literal(p, _),
              Literal(acc, t)) if t == IntegerType || t == LongType =>
            val accL = acc match {
              case i: Int => i.toLong
              case l: Long => l
              case other => throw new IllegalArgumentException(
                s"approx_percentile accuracy must be integral: $other")
            }
            require(accL > 0, s"approx_percentile accuracy $accL <= 0")
            AggSpec(out, s"qtile:${quantileOf(p)}:$accL",
              Some(a.nameParts.mkString(".")))
          case other => throw new IllegalArgumentException(
            "CREATE MATERIALIZED VIEW: approx_percentile takes " +
              "(column, quantile literal[, accuracy literal]); got " +
              s"(${other.map(_.sql).mkString(", ")})")
        }
      case other => throw new IllegalArgumentException(
        s"CREATE MATERIALIZED VIEW: aggregate '$other' is not " +
          "maintainable here (supported: count, count(DISTINCT), " +
          "approx_count_distinct, approx_percentile, sum, avg, min, max)")
    }
  }

  // -------------------------------------------------------------- schemas

  /** Widest exact accumulator for a sum over `t` — refresh adds into
    * this column forever, so it must absorb any number of deltas. */
  private def accType(t: DataType): DataType = t match {
    case ByteType | ShortType | IntegerType | LongType => LongType
    case FloatType | DoubleType                        => DoubleType
    case d: DecimalType                                => DecimalType(38, d.scale)
    case other => throw new IllegalArgumentException(
      s"materialized view: cannot sum over type ${other.sql}")
  }

  private def fieldOf(schema: StructType, name: String): StructField =
    schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(
        s"materialized view: column '$name' is not in the source " +
          s"schema (${schema.fieldNames.mkString(", ")})"))

  private def storageSchema(srcSchema: StructType, keys: Seq[String],
                            aggs: Seq[AggSpec],
                            withGkCol: Boolean = false): StructType = {
    val keyFields = keys.map(k => fieldOf(srcSchema, k))
    val aggFields = aggs.flatMap { a =>
      a.func match {
        case "count_star" | "count" | "count_distinct" =>
          Seq(StructField(a.out, LongType, nullable = false))
        case "hll" =>
          Seq(StructField(a.out, BinaryType)) // the serialized sketch
        case q if q.startsWith("qtile:") =>
          Seq(StructField(a.out, BinaryType)) // the serialized GK summary
        case "min" | "max" =>
          Seq(StructField(a.out, fieldOf(srcSchema, a.arg.get).dataType))
        case "sum" =>
          val t = accType(fieldOf(srcSchema, a.arg.get).dataType)
          Seq(StructField(a.out, t),
            StructField(nCol(a.out), LongType, nullable = false))
        case "avg" =>
          val t = accType(fieldOf(srcSchema, a.arg.get).dataType)
          Seq(StructField(sCol(a.out), t),
            StructField(nCol(a.out), LongType, nullable = false))
      }
    }
    // LEFT-join views: keys may be NULL (NULL-extension groups), so
    // the key fields relax to nullable and the canonical merge key
    // rides alongside
    val keyFields2 =
      if (withGkCol) keyFields.map(_.copy(nullable = true)) else keyFields
    StructType(keyFields2 ++ aggFields ++
      (if (withGkCol) Seq(StructField(GKey, StringType, nullable = false))
       else Nil) :+
      StructField(GRows, LongType, nullable = false))
  }

  /** The view's SELECT as real Spark aggregates — the authority for
    * the served output types (probed once at CREATE). */
  private def realAggCols(aggs: Seq[AggSpec],
                          srcSchema: StructType): Seq[Column] = aggs.map { a =>
    (a.func match {
      case "count_star"     => count(lit(1))
      case "count"          => count(col(a.arg.get))
      case "count_distinct" => countDistinct(col(a.arg.get))
      case "hll" => hll_sketch_estimate(hll_sketch_agg(col(a.arg.get)))
      case q if q.startsWith("qtile:") =>
        // the serve expression itself, cast back to the INPUT type —
        // Spark's approx_percentile returns its input type (a double
        // estimate truncates to long on integral inputs), and the
        // declared output must be what Spark's own aggregate would
        // produce or the accuracy-matched rewrite would change a
        // served query's schema
        graft.expressions.QuantileSketch.estimateCol(
          graft.expressions.QuantileSketch.sketchAgg(
            col(a.arg.get).cast("double")), qtileP(q))
          .cast(fieldOf(srcSchema, a.arg.get).dataType)
      case "sum"            => sum(col(a.arg.get))
      case "avg"            => avg(col(a.arg.get))
      case "min"            => min(col(a.arg.get))
      case "max"            => max(col(a.arg.get))
    }).as(a.out)
  }

  /** The quantile encoded in a `qtile:<p>` func tag. */
  private def qtileP(func: String): Double =
    func.stripPrefix("qtile:").toDouble

  // --------------------------------------------------------------- create

  private def resolveEntry(srcName: String): GraftSqlTables.Entry = {
    val entry = GraftSqlTables.lookup(srcName.split('.').toSeq).getOrElse(
      throw new IllegalArgumentException(
        s"CREATE MATERIALIZED VIEW: '$srcName' is not a registered " +
          "graft table"))
    require(!entry.isClone, "CREATE MATERIALIZED VIEW over a shallow " +
      "clone is not supported — materialize the clone first (OPTIMIZE), " +
      "or define the view on the clone source")
    entry
  }

  /** The fact ⋈/⟕ dim enrichment frame: join on the resolved
    * `(fact col, dim col)` pairs, dim join-key columns dropped (the
    * fact FK addresses them; under LEFT the fact side keeps its FK
    * value while the dim attributes NULL-extend). Shared by
    * create-time probe, refresh delta, and recompute — one definition
    * of the joined relation. */
  private def joinFrames(fact: DataFrame, dim: DataFrame,
                         pairs: Seq[(String, String)],
                         joinType: String): DataFrame = {
    val cond = pairs.map { case (a, b) => fact(a) === dim(b) }
      .reduce(_ && _)
    pairs.foldLeft(fact.join(dim, cond, joinType)) {
      case (df, (_, b)) => df.drop(dim(b))
    }
  }

  /** The full star/snowflake frame: the fact (or its delta) joined to
    * every dim in declared order with its declared join type.
    * Δ(F ⋈ D1 ⋈ … ⋈ Dn) = ΔF ⋈ D1 ⋈ … ⋈ Dn when ALL dims are
    * unmoved — the single-dim bag-semantics identity applies
    * dim-by-dim for INNER and fact-preserving LEFT alike (each join
    * enriches the accumulated frame row-by-row; dims may key off the
    * fact or an earlier dim, never a later one). */
  private def joinStar(fact: DataFrame,
                       dims: Seq[(DataFrame, Seq[(String, String)], String)])
    : DataFrame =
    dims.foldLeft(fact) { case (acc, (dim, pairs, jt)) =>
      joinFrames(acc, dim, pairs, jt) }

  def create(spark: SparkSession, name: String, location: String,
             selectSql: String, buckets: Option[Int] = None,
             maxStalenessMs: Option[Long] = None): Unit = {
    maxStalenessMs.foreach(v => require(v > 0,
      s"MAX_STALENESS must be positive, got $v"))
    require(lookup(name).isEmpty,
      s"materialized view '$name' already exists")
    val ps = parseSelect(selectSql)
    ps.dims.foreach { case (d, _, _) =>
      require(!norm(d.name).equals(norm(ps.fact.name)),
        s"CREATE MATERIALIZED VIEW: a self-join of '${ps.fact.name}' " +
          "is not supported — Δ(F ⋈ F) needs deltas on both sides; " +
          "register one side as its own table")
    }
    require(ps.dims.map(d => norm(d._1.name)).distinct.size == ps.dims.size,
      "CREATE MATERIALIZED VIEW: the same dim table appears twice — " +
        "register a second name for the second role")
    val anyLeft = ps.dims.exists(_._3 == "left")
    // the fact may be a registered TABLE or another registered
    // MATERIALIZED VIEW (the summary-pyramid chain): an MV fact reads
    // the child's declared output, refuses cycles loudly, and pins
    // the child's STORE manifest as srcMan
    val factIsMv = GraftSqlTables.lookup(ps.fact.name.split('.').toSeq)
      .isEmpty && lookup(ps.fact.name).isDefined
    val (factDf, factManPath) =
      if (factIsMv) {
        assertNoCycle(name, ps.fact.name)
        val childLoc = lookup(ps.fact.name).get
        val served = read(spark, ps.fact.name)
        require(!served.columns.exists(_.equalsIgnoreCase(
          graft.sources.Sinks.ChangeTypeCol)),
          s"CREATE MATERIALIZED VIEW: child view '${ps.fact.name}' " +
            "exposes a column colliding with the change-feed metadata " +
            "the refresh reads through")
        (served, manifestPath(childLoc))
      } else {
        val entry = resolveEntry(ps.fact.name)
        (snapshotRead(spark, entry), entry.manifestPath)
      }
    val entryDs = ps.dims.map { case (r, _, _) => resolveEntry(r.name) }
    val dimDfs = entryDs.map(snapshotRead(spark, _))

    // ------- qualifier resolution (join form only needs the work)
    val res = new StarResolver(ps.fact, factDf.columns.toSeq,
      ps.dims.map(_._1).zip(dimDfs.map(_.columns.toSeq)))
    val starPairs = res.resolveStarPairs(ps.dims.map(_._2),
      strictPlacement = anyLeft)
    val dimRefs = ps.dims.zip(starPairs).zip(entryDs).map {
      case (((r, _, jt), pairs), e) =>
        DimRef(r.name, pairs, Some(e.manifestPath), jt)
    }
    val keys = ps.keys.map(res.strip)
    val aggs = ps.aggs.map(a =>
      a.copy(arg = a.arg.map(arg => res.strip(arg.split('.').toSeq))))
    val where = ps.where.map(e => res.stripQuals(e).sql)
    // CDF internal columns ride the refresh delta through the join —
    // a dim column named like one would collide there
    dimDfs.foreach(dd => Seq(Sinks.ChangeTypeCol).foreach(c =>
      require(!dd.columns.exists(_.equalsIgnoreCase(c)),
        s"CREATE MATERIALIZED VIEW: dim column '$c' collides with the " +
          "change-feed metadata the refresh joins through")))

    val base = joinStar(factDf, dimDfs.zip(starPairs).zip(ps.dims)
      .map { case ((df, pairs), (_, _, jt)) => (df, pairs, jt) })
    require(!base.columns.exists(_.equalsIgnoreCase(GKey)),
      s"CREATE MATERIALIZED VIEW: source column '$GKey' collides with " +
        "the engine's internal merge-key column")
    // computed group keys: resolve qualifiers, refuse source-column
    // shadowing, then gate on determinism — a key that moves between
    // refreshes (rand, current_date) would scatter one logical group
    // across store rows and no maintenance mode could merge them
    val keyExprs = ps.keyExprs.map { case (a, e) =>
      require(!base.columns.exists(_.equalsIgnoreCase(a)),
        s"CREATE MATERIALIZED VIEW: key alias '$a' shadows a source " +
          "column — pick a different alias")
      (a, res.stripQuals(e).sql)
    }
    val derived = keyExprs.foldLeft(base) { case (f, (a, s)) =>
      f.withColumn(a, expr(s)) }
    val timeDependent = Set("CurrentDate", "CurrentTimestamp", "Now",
      "LocalTimestamp", "CurrentTimeZone", "CurrentBatchTimestamp")
    keyExprs.foreach { case (a, s) =>
      base.select(expr(s).as(a)).queryExecution.analyzed.foreach(
        _.expressions.foreach(_.foreach { e =>
          require(e.deterministic, "CREATE MATERIALIZED VIEW: key " +
            s"expression '$s' is nondeterministic — refreshes could " +
            "never reproduce the group")
          require(!timeDependent.contains(e.getClass.getSimpleName),
            "CREATE MATERIALIZED VIEW: key expression " +
              s"'$s' depends on evaluation time — the group a row " +
              "belongs to must not move between refreshes")
        }))
    }
    val live = where.fold(derived)(w => derived.where(expr(w)))
    keys.foreach(k => fieldOf(derived.schema, k))
    val outSchema = live.groupBy(keys.map(col): _*)
      .agg(realAggCols(aggs, derived.schema).head,
        realAggCols(aggs, derived.schema).tail: _*).schema
    val stor = storageSchema(derived.schema, keys, aggs,
      withGkCol = anyLeft)
    // BUCKETED BY (n): the STORE is laid out on the group keys — the
    // refresh merge only rewrites touched buckets and the layout
    // survives every refresh (markers stamped per batch dir)
    val bucket = buckets.map { n =>
      require(n >= 2, s"BUCKETED BY ($n): need at least 2 buckets")
      val spec = s"$n,${keys.mkString(",")}"
      graft.sources.Bucketing.parse(spec) // validates shape now
      spec
    }
    val d = MvDef(name, ps.fact.name, keys, aggs, where, outSchema, stor,
      dims = dimRefs, bucket = bucket, keyExprs = keyExprs,
      srcMan = Some(factManPath), maxStalenessMs = maxStalenessMs)
    writeDef(location, d)
    persist(name, location) // exclusive create = the concurrent-CREATE guard
    views.put(norm(name), location)
    read(spark, name).createOrReplaceTempView(tempViewName(name))
    ()
  }

  private def tempViewName(name: String): String = name.replace('.', '_')

  /** Snapshot read of the SOURCE table (logical names when it is a
    * columnMapping table — the same option set `table_changes`
    * passes). `asOf` pins the scan to a recorded manifest version:
    * DSv2 scan planning is lazy, so an UNpinned read inside a refresh
    * could fold a source commit that lands mid-job while the state
    * file records only the pre-commit version — the next incremental
    * refresh would then re-deliver that commit's delta and silently
    * double-apply it. Every refresh-path read pins; only the
    * CREATE-time schema probe reads latest. */
  private def snapshotRead(spark: SparkSession,
                           entry: GraftSqlTables.Entry,
                           asOf: Option[Int] = None): DataFrame = {
    var r = spark.read.format("graft-manifest")
      .option("manifest", entry.manifestPath)
    entry.schemaLogPath.foreach(p => r = r.option("schemaLog", p))
    asOf.foreach(v => r = r.option("versionAsOf", v.toString))
    r.load(entry.root)
  }

  // ------------------------------------------------------ MV-on-MV chain

  /** A refresh's fact source: a registered TABLE, or another
    * registered MATERIALIZED VIEW (the summary-pyramid chain,
    * round 12). An MV source reads its child's STORE — snapshot or
    * change feed — and applies the child's declared-output projection
    * per row ([[servedCols]] is deterministic per storage row, so
    * pre/post change images transform independently); the store's own
    * manifest CDF is the parent's feed, which is why every MV store
    * merge commits with `cdf = true`. Refresh order is the caller's:
    * REFRESH the child first, then the parent (bottom-up), exactly
    * like any downstream incremental consumer. */
  private sealed trait FactSrc {
    def manifestPath: String
    def snapshot(spark: SparkSession, asOf: Option[Int]): DataFrame
    def changes(spark: SparkSession, loEx: Int, hiInc: Int): DataFrame
    def streamFeed(spark: SparkSession): DataFrame
  }

  private final case class TableSrc(entry: GraftSqlTables.Entry)
      extends FactSrc {
    def manifestPath: String = entry.manifestPath
    def snapshot(spark: SparkSession, asOf: Option[Int]): DataFrame =
      snapshotRead(spark, entry, asOf)
    def changes(spark: SparkSession, loEx: Int, hiInc: Int): DataFrame = {
      var r = spark.read.format("graft-manifest")
        .option("manifest", entry.manifestPath)
        .option("changeFeed", "true")
        .option("startingBatchId", loEx.toString)
        .option("endingBatchId", hiInc.toString)
      entry.schemaLogPath.foreach(p => r = r.option("schemaLog", p))
      r.load(entry.root)
    }
    def streamFeed(spark: SparkSession): DataFrame = {
      var r = spark.readStream.format("graft-manifest")
        .option("manifest", entry.manifestPath)
        .option("changeFeed", "true")
      entry.schemaLogPath.foreach(p => r = r.option("schemaLog", p))
      r.load(entry.root)
    }
  }

  private final case class MvSrc(childLoc: String, childDef: MvDef)
      extends FactSrc {
    def manifestPath: String = GraftMvs.manifestPath(childLoc)
    def snapshot(spark: SparkSession, asOf: Option[Int]): DataFrame = {
      var r = spark.read.format("graft-manifest")
        .option("manifest", manifestPath)
      asOf.foreach(v => r = r.option("versionAsOf", v.toString))
      r.load(dataRoot(childLoc)).select(servedCols(childDef): _*)
    }
    def changes(spark: SparkSession, loEx: Int, hiInc: Int): DataFrame =
      spark.read.format("graft-manifest")
        .option("manifest", manifestPath)
        .option("changeFeed", "true")
        .option("startingBatchId", loEx.toString)
        .option("endingBatchId", hiInc.toString)
        .load(dataRoot(childLoc))
        .select(servedCols(childDef) :+ col(Sinks.ChangeTypeCol): _*)
    def streamFeed(spark: SparkSession): DataFrame =
      spark.readStream.format("graft-manifest")
        .option("manifest", manifestPath)
        .option("changeFeed", "true")
        .load(dataRoot(childLoc))
  }

  /** Resolve a view's declared source: tables win a name collision
    * (the original contract); an MV resolves to its store. */
  private def factSrcOf(viewName: String, src: String): FactSrc =
    GraftSqlTables.lookup(src.split('.').toSeq) match {
      case Some(e) => TableSrc(e)
      case None => lookup(src) match {
        case Some(loc) => MvSrc(loc, readDef(loc))
        case None => throw new IllegalStateException(
          s"materialized view '$viewName': source '$src' is neither a " +
            "registered graft table nor a registered materialized view")
      }
    }

  /** Refuse a view chain that (transitively) reads itself — a cycle
    * would make refresh order undefined and every refresh read its
    * own output. Walked at CREATE and again at refresh (a DROP +
    * recreate of a mid-chain view could introduce one later). */
  private def assertNoCycle(viewName: String, firstSrc: String): Unit = {
    val seen = scala.collection.mutable.Set(norm(viewName))
    var cur = firstSrc
    var depth = 0
    var done = false
    while (!done) {
      val isTable = GraftSqlTables.lookup(cur.split('.').toSeq).isDefined
      val isMv = !isTable && lookup(cur).isDefined
      // a chain node that names THIS view — registered or a dangling
      // reference this CREATE would complete — closes the cycle;
      // tables live in a different namespace and never do
      val closes = isMv || (!isTable && norm(cur) == norm(viewName))
      require(!closes || seen.add(norm(cur)),
        s"materialized view '$viewName': the view chain CYCLES through " +
          s"'$cur' — a view may not (transitively) read itself")
      if (isMv) {
        depth += 1
        require(depth <= 64,
          s"materialized view '$viewName': view chain deeper than 64 — " +
            "refusing (is this a cycle through re-registration?)")
        cur = readDef(lookup(cur).get).src
      } else done = true
    }
  }

  // -------------------------------------------------------------- refresh

  /** Returns (fromExclusive, toInclusive, applied?) — applied=false
    * is the no-op refresh (nothing new committed upstream, nothing
    * committed here). */
  /** Per-view refresh serialization. Two refreshes racing the same
    * view could interleave state-file writes with the manifest CAS:
    * the loser's state overwrite would mark source versions consumed
    * that the winner's committed batch never folded — silent delta
    * loss. In-process the lock removes the race; ACROSS processes
    * refresh is single-writer by contract (run it from one
    * maintenance job, the same discipline every MV scheduler
    * applies), and the manifest CAS turns a violation into a loud
    * commit failure rather than corruption for the loser. */
  private val refreshLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def refresh(spark: SparkSession, name: String,
              full: Boolean = false): (Int, Int, Boolean) =
    refreshLocks.computeIfAbsent(norm(name), _ => new Object)
      .synchronized { refreshLocked(spark, name, full) }

  private def refreshLocked(spark: SparkSession, name: String,
                            full: Boolean): (Int, Int, Boolean) = {
    val baseDir = lookup(name).getOrElse(throw new IllegalArgumentException(
      s"materialized view '$name' is not registered"))
    val d = readDef(baseDir)
    def entryOf(src: String): GraftSqlTables.Entry =
      GraftSqlTables.lookup(src.split('.').toSeq).getOrElse(
        throw new IllegalStateException(
          s"materialized view '$name': source table '$src' is no " +
            "longer registered"))
    val fact = factSrcOf(name, d.src)
    // an MV source: a DROP + recreate elsewhere in the chain since
    // CREATE could have introduced a cycle — re-walk before reading
    if (fact.isInstanceOf[MvSrc]) assertNoCycle(name, d.src)
    val entryDs = d.dims.map(x => entryOf(x.name))
    // a NAME re-registered at a different manifest: the stored
    // state's versions refer to the OLD history, so incremental
    // deltas are meaningless — only FULL (which recomputes from the
    // current snapshot and re-pins the paths) may proceed
    val moved = d.srcMan.exists(_ != fact.manifestPath) ||
      d.dims.zip(entryDs).exists { case (dim, e) =>
        dim.man.exists(_ != e.manifestPath) }
    if (moved) {
      require(full, s"materialized view '$name': source table " +
        "re-registered at a different location — incremental deltas " +
        "no longer apply; REFRESH MATERIALIZED VIEW ... FULL rebuilds")
      writeDef(baseDir, d.copy(srcMan = Some(fact.manifestPath),
        dims = d.dims.zip(entryDs).map { case (dim, e) =>
          dim.copy(man = Some(e.manifestPath)) }))
    }
    val curV = new TxnManifest(fact.manifestPath)
      .committed().keys.maxOption.getOrElse(-1)
    val curDs = entryDs.map(e => new TxnManifest(e.manifestPath)
      .committed().keys.maxOption.getOrElse(-1))
    val mvMan = new TxnManifest(manifestPath(baseDir))
    val mvB = mvMan.committed().keys.maxOption.getOrElse(-1)
    val (lastV, lastDs) =
      if (mvB < 0) (-1, d.dims.map(_ => -1))
      else stateFor(baseDir, mvB)
    if (!full && curV <= lastV && curDs == lastDs) return (lastV, curV, false)

    val newBatch = mvB + 1
    writeState(baseDir, newBatch, curV, curDs, // inert until the commit below
      refreshTs = Some(System.currentTimeMillis()))
    // every refresh read pins to the recorded state versions — a
    // source commit landing while this job plans/runs must neither be
    // folded now (the state file says it wasn't) nor lost later (the
    // next refresh's feed starts exactly where this state ends)
    val factAsOf = Some(curV).filter(_ >= 0)
    val starDims = entryDs.zip(curDs).map { case (e, v) =>
      snapshotRead(spark, e, Some(v).filter(_ >= 0)) }
      .zip(d.dims).map { case (df, dim) => (df, dim.pairs, dim.joinType) }
    // the pinned full-star frame — the full / dim-moved / recompute
    // arms' base scan, built once here so every arm reads identically
    def liveSnapshot: DataFrame = {
      val live0 = derive(
        joinStar(fact.snapshot(spark, factAsOf), starDims), d)
      d.where.fold(live0)(w => live0.where(expr(w)))
    }

    if (full) {
      // REFRESH ... FULL: one recompute from the pinned snapshot —
      // the recovery lever when the CDF window is gone (VACUUM, a
      // collapsed cdf=false merge) or trust in the store is in doubt.
      // Honored on bootstrap too (mvB < 0): the first refresh of a
      // view whose feed history is unservable must not fall through
      // to the change-feed arm.
      if (mvB < 0) {
        val aggsCols = storageAggs(d)
        bootstrapCommit(spark, d, baseDir, mvMan, newBatch,
          conform(withGk(liveSnapshot.groupBy(groupCols(d): _*)
            .agg(aggsCols.head, aggsCols.tail: _*), d), d.storSchema))
      } else refreshFull(spark, d, baseDir, mvMan, newBatch, liveSnapshot)
    } else if (mvB >= 0 && d.dims.nonEmpty && curDs != lastDs) {
      // ANY dim moved: ΔF ⋈ D1 ⋈ … no longer equals Δ(F ⋈ D1 ⋈ …) —
      // one full recompute (group death included); dims move rarely,
      // facts constantly, so this is the exceptional arm
      refreshFull(spark, d, baseDir, mvMan, newBatch, liveSnapshot)
    } else {
      // feed `(lastV, curV]` — exclusive lower bound; an MV source
      // serves its store's own CDF through the served projection
      val changes0 = fact.changes(spark, lastV, curV)
      val changes = derive(joinStar(changes0, starDims), d)
      val delta = d.where.fold(changes)(w => changes.where(expr(w)))
      if (d.additive)
        refreshAdditive(spark, d, baseDir, mvMan, mvB, newBatch, delta)
      else
        refreshRecompute(spark, d, liveSnapshot, baseDir, mvMan,
          mvB, newBatch, delta)
    }
    read(spark, name).createOrReplaceTempView(tempViewName(name))
    (lastV, curV, true)
  }

  /** Materialize the view's computed group keys over a source (or
    * joined / delta) frame — every maintenance path groups on the
    * derived columns, never re-parsing per row. */
  private def derive(df: DataFrame, d: MvDef): DataFrame =
    d.keyExprs.foldLeft(df) { case (f, (a, s)) => f.withColumn(a, expr(s)) }

  /** Bootstrap commit of the full aggregate — routed through the
    * store's bucket layout when the view is BUCKETED BY. */
  private def bootstrapCommit(spark: SparkSession, d: MvDef,
                              baseDir: String, mvMan: TxnManifest,
                              newBatch: Int, full: DataFrame): Unit = {
    val target = s"${dataRoot(baseDir)}/batch=$newBatch"
    d.bucketSpec match {
      case None =>
        StatsSinks.appendBatchStats(full, dataRoot(baseDir), newBatch)
      case Some(b) =>
        Bucketing.routed(full, b).write
          .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(target)
        BatchStats.writeSidecar(spark, target)
        Bucketing.writeMarkerWithFiles(spark, target, b)
    }
    mvMan.commit(newBatch, Seq(target))
  }

  /** Group-key columns with an IN-PLAN null refusal: the MV's storage
    * identity is key equality ([[Sinks.merge]]), and SQL `=` never
    * matches NULL — a null-keyed group would duplicate on every
    * refresh instead of updating. The guard binds exactly the rows
    * the refresh aggregates (zero extra jobs); `raise_error`'s
    * NullType branch coerces to the key type. */
  private def guardedKeys(keys: Seq[String]): Seq[Column] = keys.map(k =>
    when(col(k).isNotNull, col(k)).otherwise(raise_error(lit(
      s"materialized view: NULL group key '$k' — null-keyed groups are " +
        "not maintainable (key-equality merge); filter them in the " +
        "view's WHERE"))).as(k))

  /** Conform `df` to the storage schema: column order and exact types
    * (accumulator arithmetic widens decimals; the cast pins them). */
  private def conform(df: DataFrame, stor: StructType): DataFrame =
    df.select(stor.fields.map(f => col(f.name).cast(f.dataType).as(f.name))
      .toSeq: _*)

  private def refreshAdditive(spark: SparkSession, d: MvDef, baseDir: String,
                              mvMan: TxnManifest, mvB: Int, newBatch: Int,
                              delta: DataFrame): Unit = {
    val w = when(col(Sinks.ChangeTypeCol).isin("insert", "update_postimage"),
      lit(1L)).otherwise(lit(-1L))
    val deltaAggs: Seq[Column] = d.aggs.flatMap { a =>
      a.func match {
        case "count_star" => Seq(sum(w).as(a.out))
        case "count" => Seq(
          sum(when(col(a.arg.get).isNotNull, w).otherwise(0L)).as(a.out))
        case "sum" => Seq(
          sum(when(col(a.arg.get).isNotNull, w * col(a.arg.get))).as(a.out),
          sum(when(col(a.arg.get).isNotNull, w).otherwise(0L)).as(nCol(a.out)))
        case "avg" => Seq(
          sum(when(col(a.arg.get).isNotNull, w * col(a.arg.get))).as(sCol(a.out)),
          sum(when(col(a.arg.get).isNotNull, w).otherwise(0L)).as(nCol(a.out)))
        case other => sys.error(s"additive refresh on $other") // unreachable
      }
    } :+ sum(w).as(GRows)
    val dAgg = withGk(delta.groupBy(groupCols(d): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*), d)

    if (mvB < 0) { // bootstrap: the feed from −1 IS the full history
      val boot = conform(dAgg.filter(col(GRows) > 0), d.storSchema)
      bootstrapCommit(spark, d, baseDir, mvMan, newBatch, boot)
    } else {
      val mk = mergeKeys(d)
      val accCols = d.storSchema.fieldNames.filterNot(n =>
        d.groupKeys.exists(_.equalsIgnoreCase(n)) ||
          n.equalsIgnoreCase(GKey)).toSeq
      val dd = dAgg.select(((d.groupKeys ++
        (if (d.hasLeft) Seq(GKey) else Nil)).map(col) ++
        accCols.map(n => col(n).as(s"__d_$n"))): _*)
      val cur0 = Sinks.readCommitted(spark, dataRoot(baseDir), mvMan)
      // LEFT views fold on the canonical key (NULL group keys never
      // match under `=`); the stored key columns drop here and the
      // delta side's — equal by the encoding's injectivity — carry
      val cur = if (d.hasLeft)
        cur0.select((GKey +: accCols).map(col): _*) else cur0
      // right join: untouched groups are never read into the plan's
      // output — only delta groups (new or existing) flow onward; one
      // projection folds every accumulator into the storage schema
      val merged = cur.join(dd, mk, "right").select(d.storSchema.fields.map { f =>
        val v = if (!accCols.contains(f.name)) col(f.name)
          else coalesce(col(f.name), lit(0).cast(f.dataType)) +
            coalesce(col(s"__d_${f.name}"), lit(0).cast(f.dataType))
        v.cast(f.dataType).as(f.name)
      }.toSeq: _*)
      // ONE tagged frame, so the feed read, the delta aggregate and the
      // state join run once: a live group updates (or inserts when new),
      // a dead one deletes its stored row
      val live = col(GRows) > 0
      Sinks.mergeRows(spark, merged.select(col("*"),
          when(live, lit("update")).otherwise(lit("delete")).as(Sinks.OnMatchCol),
          live.as(Sinks.OnMissCol)),
        writes = true, deleteWins = false, dataRoot(baseDir), mvMan, mk,
        newBatch, cdf = true, unionRoots = false, physSchema = None,
        bucketBy = d.bucketSpec)
    }
  }

  /** Storage-schema aggregates computed from BASE rows (bootstrap,
    * per-group recompute, and the dim-moved full recompute). */
  private def storageAggs(d: MvDef): Seq[Column] = d.aggs.flatMap { a =>
    a.func match {
      case "count_star"     => Seq(count(lit(1)).as(a.out))
      case "count"          => Seq(count(col(a.arg.get)).as(a.out))
      case "count_distinct" => Seq(countDistinct(col(a.arg.get)).as(a.out))
      case "hll"            => Seq(hll_sketch_agg(col(a.arg.get)).as(a.out))
      case q if q.startsWith("qtile:") =>
        Seq(graft.expressions.QuantileSketch.sketchAgg(
          col(a.arg.get).cast("double")).as(a.out))
      case "min"            => Seq(min(col(a.arg.get)).as(a.out))
      case "max"            => Seq(max(col(a.arg.get)).as(a.out))
      case "sum" => Seq(sum(col(a.arg.get)).as(a.out),
        count(col(a.arg.get)).as(nCol(a.out)))
      case "avg" => Seq(sum(col(a.arg.get)).as(sCol(a.out)),
        count(col(a.arg.get)).as(nCol(a.out)))
    }
  } :+ count(lit(1)).as(GRows)

  /** Non-additive refresh. min/max cannot fold a DELETE out of a
    * scalar accumulator, but they fold an INSERT in (`least` /
    * `greatest` against the stored extreme) — and deletes are
    * per-GROUP events, not per-view: groups whose delta carries only
    * insert images (insert / update_postimage) FOLD like the additive
    * path, and only groups a negative image touched recompute from
    * the semi-join-pruned base. An append-mostly 100 TB fact refreshes
    * its min/max summary without reading the base at all.
    * count(DISTINCT) never folds (an inserted value may or may not be
    * new to the group), so its presence sends every touched group to
    * the recompute arm. */
  private def refreshRecompute(spark: SparkSession, d: MvDef,
                               liveDf: => DataFrame, baseDir: String,
                               mvMan: TxnManifest, mvB: Int, newBatch: Int,
                               delta: DataFrame): Unit = {
    val aggsCols = storageAggs(d)
    lazy val live = liveDf // the pinned star snapshot; never built on
                           // the insert-only path

    val mk = mergeKeys(d)
    if (mvB < 0) {
      val full = conform(withGk(live.groupBy(groupCols(d): _*)
        .agg(aggsCols.head, aggsCols.tail: _*), d), d.storSchema)
      bootstrapCommit(spark, d, baseDir, mvMan, newBatch, full)
      return
    }

    val canFold = !d.aggs.exists(_.func == "count_distinct")
    val neg = col(Sinks.ChangeTypeCol).isin("delete", "update_preimage")
    if (!canFold) {
      // groups touched by ANY delta image (a pre-image that matched
      // the WHERE marks its group even when the post-image left it)
      val affected = withGk(
        delta.select(groupCols(d): _*).distinct(), d)
      val rec = conform(withGk(
        withGk(live, d)
          .join(affected.select(mk.map(col): _*), mk, "left_semi")
          .groupBy(d.groupKeys.map(col): _*)
          .agg(aggsCols.head, aggsCols.tail: _*), d), d.storSchema)
      val gone = affected.select(mk.map(col): _*)
        .join(rec.select(mk.map(col): _*), mk, "left_anti")
      Sinks.merge(spark, Some(rec), Some(gone), dataRoot(baseDir),
        mvMan, mk, newBatch, cdf = true, bucketBy = d.bucketSpec)
      return
    }

    // one pass over the delta: additive accumulators, insert-image
    // extremes, and the per-group negative-image flag
    val w = when(neg, lit(-1L)).otherwise(lit(1L))
    val HasNeg = "__hasneg"
    val deltaAggs: Seq[Column] = d.aggs.flatMap { a =>
      a.func match {
        case "count_star" => Seq(sum(w).as(a.out))
        case "count" => Seq(
          sum(when(col(a.arg.get).isNotNull, w).otherwise(0L)).as(a.out))
        case "sum" => Seq(
          sum(when(col(a.arg.get).isNotNull, w * col(a.arg.get))).as(a.out),
          sum(when(col(a.arg.get).isNotNull, w).otherwise(0L)).as(nCol(a.out)))
        case "avg" => Seq(
          sum(when(col(a.arg.get).isNotNull, w * col(a.arg.get))).as(sCol(a.out)),
          sum(when(col(a.arg.get).isNotNull, w).otherwise(0L)).as(nCol(a.out)))
        case "min" => Seq(min(when(!neg, col(a.arg.get))).as(a.out))
        case "max" => Seq(max(when(!neg, col(a.arg.get))).as(a.out))
        case "hll" =>
          Seq(hll_sketch_agg(when(!neg, col(a.arg.get))).as(a.out))
        case q if q.startsWith("qtile:") =>
          Seq(graft.expressions.QuantileSketch.sketchAgg(
            when(!neg, col(a.arg.get)).cast("double")).as(a.out))
        case other => sys.error(s"fold refresh on $other") // unreachable
      }
    } ++ Seq(sum(w).as(GRows), max(when(neg, 1).otherwise(0)).as(HasNeg))
    val dAgg = withGk(delta.groupBy(groupCols(d): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*), d)
      .localCheckpoint() // both arms consume it; scan the delta once

    // FOLD arm: insert-only groups — additive accumulators add,
    // min/max extend via least/greatest (null-skipping, so a stored
    // all-NULL extreme picks up the first non-null insert and a new
    // group takes the delta extreme outright), HLL sketches extend by
    // union (register-wise max — commutative and associative, so the
    // folded sketch equals a single-pass sketch over the same rows).
    // GRows only grew, so no fold group can die.
    val minMax = d.aggs.filter(a => a.func == "min" || a.func == "max")
      .map(a => norm(a.out)).toSet
    val hlls = d.aggs.filter(_.func == "hll").map(a => norm(a.out)).toSet
    val qtiles = d.aggs.filter(_.func.startsWith("qtile:"))
      .map(a => norm(a.out)).toSet
    val accCols = d.storSchema.fieldNames.filterNot(n =>
      d.groupKeys.exists(_.equalsIgnoreCase(n)) ||
        n.equalsIgnoreCase(GKey)).toSeq
    val dd = dAgg.filter(col(HasNeg) === 0).select(((d.groupKeys ++
      (if (d.hasLeft) Seq(GKey) else Nil)).map(col) ++
      accCols.map(n => col(n).as(s"__d_$n"))): _*)
    val cur0 = Sinks.readCommitted(spark, dataRoot(baseDir), mvMan)
    val cur = if (d.hasLeft)
      cur0.select((GKey +: accCols).map(col): _*) else cur0
    val merged0 = cur.join(dd, mk, "right")
    val merged = accCols.foldLeft(merged0) { (df, n) =>
      val t = d.storSchema(d.storSchema.fieldIndex(n)).dataType
      df.withColumn(n,
        if (hlls.contains(norm(n)))
          when(col(n).isNull, col(s"__d_$n"))
            .when(col(s"__d_$n").isNull, col(n))
            .otherwise(hll_union(col(n), col(s"__d_$n")))
        else if (qtiles.contains(norm(n)))
          // GK summaries extend by merge (NULL absorbs inside the
          // expression) — the folded summary answers any quantile
          // within the same ε·n rank bound as a single-pass summary
          graft.expressions.QuantileSketch.mergeCol(col(n), col(s"__d_$n"))
        else if (minMax.contains(norm(n))) {
          val f = d.aggs.find(a => norm(a.out) == norm(n)).get.func
          if (f == "min") least(col(n), col(s"__d_$n"))
          else greatest(col(n), col(s"__d_$n"))
        } else
          coalesce(col(n), lit(0).cast(t)) +
            coalesce(col(s"__d_$n"), lit(0).cast(t)))
    }
    val folded = conform(merged, d.storSchema)

    // RECOMPUTE arm: only the groups a negative image touched. The
    // emptiness probe reads the checkpointed dAgg, not the delta —
    // an insert-only refresh must leave the base scan out of the
    // PLAN, not just prune it to zero tasks.
    val negKeys = dAgg.filter(col(HasNeg) === 1)
      .select(mk.map(col): _*)
    if (negKeys.isEmpty)
      Sinks.merge(spark, Some(folded), None, dataRoot(baseDir),
        mvMan, mk, newBatch, cdf = true, bucketBy = d.bucketSpec)
    else {
      val rec = conform(withGk(
        withGk(live, d).join(negKeys, mk, "left_semi")
          .groupBy(d.groupKeys.map(col): _*)
          .agg(aggsCols.head, aggsCols.tail: _*), d), d.storSchema)
      val gone = negKeys.join(rec.select(mk.map(col): _*),
        mk, "left_anti")
      Sinks.merge(spark, Some(folded.unionByName(rec)), Some(gone),
        dataRoot(baseDir), mvMan, mk, newBatch, cdf = true,
        bucketBy = d.bucketSpec)
    }
  }

  /** Full recompute into one merge: every group rewritten, stored
    * groups absent from the recomputed state deleted. The dim-moved
    * arm — the base scan IS the cost, so it runs only when the
    * incremental identity does not hold. */
  private def refreshFull(spark: SparkSession, d: MvDef, baseDir: String,
                          mvMan: TxnManifest, newBatch: Int,
                          live: DataFrame): Unit = {
    val aggsCols = storageAggs(d)
    val mk = mergeKeys(d)
    val full = conform(withGk(live.groupBy(groupCols(d): _*)
      .agg(aggsCols.head, aggsCols.tail: _*), d), d.storSchema)
    val cur = Sinks.readCommitted(spark, dataRoot(baseDir), mvMan)
    val gone = cur.select(mk.map(col): _*)
      .join(full.select(mk.map(col): _*), mk, "left_anti")
    Sinks.merge(spark, Some(full), Some(gone), dataRoot(baseDir),
      mvMan, mk, newBatch, cdf = true, bucketBy = d.bucketSpec)
  }

  // ----------------------------------------------------------------- read

  /** The view's contents under its DECLARED output schema (exactly
    * the types Spark's own aggregate over the source would produce —
    * probed and pinned at CREATE). */
  /** The stored accumulator frame (storage schema) — shared by the
    * declared-output serve and the rewrite's rollup re-aggregation. */
  private def rawStorage(spark: SparkSession, baseDir: String,
                         d: MvDef): DataFrame = {
    val mvMan = new TxnManifest(manifestPath(baseDir))
    if (mvMan.committed().isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], d.storSchema)
    else Sinks.readCommitted(spark, dataRoot(baseDir), mvMan)
  }

  /** The declared-output projection over a STORAGE-schema frame —
    * shared by [[read]] and the MV-on-MV source reads (a parent
    * view's refresh applies it per row to the child store's snapshot
    * AND change-feed images: the projection is deterministic per
    * storage row, so pre/post images transform independently). */
  private def servedCols(d: MvDef): Seq[Column] =
    d.groupKeys.map(col) ++ d.aggs.map { a =>
      val outT = d.outSchema(d.outSchema.fieldIndex(a.out)).dataType
      a.func match {
        case "count_star" | "count" | "count_distinct" | "min" | "max" =>
          col(a.out).cast(outT).as(a.out)
        case "hll" => // the estimate is the declared output
          hll_sketch_estimate(col(a.out)).cast(outT).as(a.out)
        case q if q.startsWith("qtile:") => // estimate, NULL when empty
          graft.expressions.QuantileSketch.estimateCol(col(a.out),
            qtileP(q)).cast(outT).as(a.out)
        case "sum" =>
          when(col(nCol(a.out)) === 0, lit(null))
            .otherwise(col(a.out)).cast(outT).as(a.out)
        case "avg" =>
          when(col(nCol(a.out)) === 0, lit(null))
            .otherwise(col(sCol(a.out)) / col(nCol(a.out)))
            .cast(outT).as(a.out)
      }
    }

  def read(spark: SparkSession, name: String): DataFrame = {
    val baseDir = lookup(name).getOrElse(throw new IllegalArgumentException(
      s"materialized view '$name' is not registered"))
    val d = readDef(baseDir)
    rawStorage(spark, baseDir, d).select(servedCols(d): _*)
  }

  def drop(name: String): Unit = {
    require(lookup(name).isDefined,
      s"materialized view '$name' is not registered")
    unregister(name)
    // the serve-by-name temp view would otherwise keep resolving the
    // dropped name to the last-refreshed snapshot
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(_.catalog.dropTempView(tempViewName(name)))
  }

  /** `OPTIMIZE MATERIALIZED VIEW` — bin-pack the view's store.
    * Every refresh commits one batch dir, so a long-lived view
    * accumulates small files exactly like any frequently-written
    * table; at a nightly-refresh cadence this is the difference
    * between a store that serves in one scan and one that lists
    * hundreds of dirs. BUCKETED BY stores compact through the
    * bucket-preserving incremental rewrite (layout + markers
    * survive, SPJ keeps planning exchange-free); plain stores
    * bin-pack to ~128 MB files. A PARENT view chained on this store
    * keeps folding across it: the compact batch carries the standard
    * no-change feed marker (the [[Sinks.compact]] contract), so the
    * parent's feed serves zero deltas for it and its next refresh is
    * a cheap no-op fold — compaction is physical, never logical.
    * Compaction consumes no source data:
    * the compact batch CARRIES FORWARD the consumed-version state, so
    * freshness and the next incremental refresh are unaffected — and
    * the state file is written before the commit, keeping the
    * exactly-once ordering. */
  def optimize(spark: SparkSession, name: String): Unit =
    refreshLocks.computeIfAbsent(norm(name), _ => new Object)
      .synchronized {
        val baseDir = lookup(name).getOrElse(
          throw new IllegalArgumentException(
            s"materialized view '$name' is not registered"))
        val d = readDef(baseDir)
        val mvMan = new TxnManifest(manifestPath(baseDir))
        val ids = mvMan.committed().keySet
        require(ids.nonEmpty, s"OPTIMIZE MATERIALIZED VIEW $name: " +
          "never refreshed — nothing to compact")
        val compactId = ids.max + 1
        val (lastV, lastDs) = stateFor(baseDir, ids.max)
        // carry the LAST refresh's staleness stamp forward: a compact
        // commit must not renew the bounded-staleness clock
        writeState(baseDir, compactId, lastV, lastDs, // inert until commit
          refreshTs = refreshTsFor(baseDir, ids.max))
        d.bucketSpec match {
          case Some(b) =>
            Sinks.compactBucketedIncremental(spark, dataRoot(baseDir),
              mvMan, compactId, b)
          case None =>
            val conf = spark.sparkContext.hadoopConfiguration
            val bytes = mvMan.committedDirs(dataRoot(baseDir))
              .filterNot(Sinks.isDvDir).map { dir =>
                val p = new org.apache.hadoop.fs.Path(dir)
                val fs = p.getFileSystem(conf)
                if (!fs.exists(p)) 0L
                else fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
              }.sum
            val numFiles = math.max(1, (bytes / (128L * 1024 * 1024)).toInt)
            Sinks.compact(spark, dataRoot(baseDir), mvMan, compactId,
              numFiles)
        }
        ()
      }

  /** `VACUUM MATERIALIZED VIEW` — reclaim the store's un-named batch
    * dirs (refresh merges and OPTIMIZE both REPLACE manifest entries;
    * the replaced dirs' bytes linger until vacuumed, exactly like a
    * table's). Same retention-grace contract as table VACUUM: dirs
    * younger than the grace survive so an in-flight reader finishes.
    * The usual CDF caveat applies — vacuuming past a consumer's
    * offset makes that range unservable (loud, never silent). */
  def vacuum(name: String, retainMillis: Option[Long],
             dryRun: Boolean): Seq[String] = {
    val baseDir = lookup(name).getOrElse(throw new IllegalArgumentException(
      s"materialized view '$name' is not registered"))
    Sinks.vacuum(dataRoot(baseDir), new TxnManifest(manifestPath(baseDir)),
      retainMillis.getOrElse(7L * 24 * 3600 * 1000), dryRun = dryRun)
  }

  /** Streaming MV maintenance — the production shape of REFRESH: a
    * change-feed stream over the view's source triggers one refresh
    * per delivered micro-batch, so the store tracks the source
    * continuously. `Trigger.AvailableNow` drains what's committed and
    * stops (the scheduled-maintenance shape); the default trigger
    * tails indefinitely.
    *
    * The stream is ONLY the trigger: each refresh re-reads the feed
    * `(lastV, curV]` itself and keeps the state-file-before-commit
    * exactly-once contract, so a crashed or restarted stream — same
    * checkpoint or a fresh one — can never double-fold a delta; the
    * worst case is a no-op refresh. The triggering read projects to
    * the commit-batch metadata column alone, so Parquet column
    * pruning keeps the trigger scan data-free; the refresh's own feed
    * read is the one that touches rows. */
  def maintainer(spark: SparkSession, name: String, checkpoint: String,
                 availableNow: Boolean = false)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    val baseDir = lookup(name).getOrElse(throw new IllegalArgumentException(
      s"materialized view '$name' is not registered"))
    val d = readDef(baseDir)
    val feed = factSrcOf(name, d.src).streamFeed(spark)
      .select(col("_commit_batch"))
    var w = feed.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        refresh(batch.sparkSession, name)
        ()
      }
    if (availableNow) w = w.trigger(
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    w.start()
  }

  /** Refresh every registered view — `REFRESH ALL MATERIALIZED
    * VIEWS`. Order is BOTTOM-UP over the MV-on-MV chains (children
    * before the views that read them, ties by name), so one sweep
    * converges a whole summary pyramid: each parent folds the delta
    * its child just committed. Independent commits per view.
    *
    * `withinStaleness` (`... WITHIN STALENESS`, opt-in): skip every
    * view that can currently SERVE — fresh, or inside its declared
    * MAX_STALENESS bound. At refresh-storm scale a nightly sweep
    * over hundreds of dashboards only pays for the views whose
    * serving contract actually lapsed; a bounded-stale view's whole
    * point is that it doesn't need the refresh yet. Chain semantics
    * stay per-view: a parent inside its bound skips even when its
    * child just advanced (the parent's own last REFRESH governs its
    * bound — a fresher child makes it unfresh, not unservable), and
    * it catches up on the sweep after its bound lapses. Skipped
    * views report (cur, cur, applied=false). */
  def refreshAll(spark: SparkSession, withinStaleness: Boolean = false)
    : Seq[(String, Int, Int, Boolean)] = {
    // chain depth = #MV hops under the view's source (0 = reads a
    // table); a cycle would loop the walk, so cap it — refresh()
    // itself refuses cycles loudly, the sort just needs an order
    def depthOf(n: String): Int = {
      var cur = n; var d = 0
      while (d <= 64 && lookup(cur).isDefined && {
        val src = scala.util.Try(readDef(lookup(cur).get).src).toOption
        src match {
          case Some(s) if GraftSqlTables.lookup(s.split('.').toSeq).isEmpty
              && lookup(s).isDefined => cur = s; d += 1; true
          case _ => false
        }
      }) ()
      d
    }
    allViews.map(n => (depthOf(n), n)).sorted.map { case (_, n) =>
      if (withinStaleness && servableFor(spark, n).isDefined) {
        val baseDir = lookup(n).get
        val mvB = new TxnManifest(manifestPath(baseDir))
          .committed().keys.maxOption.getOrElse(-1)
        val v = if (mvB < 0) -1 else stateFor(baseDir, mvB)._1
        (n, v, v, false) // still servable: skipped by request
      } else {
        val (f, t, a) = refresh(spark, n)
        (n, f, t, a)
      }
    }
  }

  /** (name, source, location, is_fresh) per registered view —
    * `SHOW MATERIALIZED VIEWS`. */
  private[plans] def describeAll(spark: SparkSession)
    : Seq[(String, String, String, Boolean)] =
    allViews.map { name =>
      val loc = lookup(name).get
      val d = scala.util.Try(readDef(loc)).toOption
      val src = d.map(x =>
        x.src + x.dims.map(dim =>
          (if (dim.joinType == "left") " ⟕ " else " ⋈ ") + dim.name)
          .mkString).getOrElse("?")
      (name, src, loc, freshFor(spark, name).isDefined)
    }

  /** (property, value) rows — `DESCRIBE MATERIALIZED VIEW`. */
  private[plans] def describe(spark: SparkSession, name: String)
    : Seq[(String, String)] = {
    val loc = lookup(name).getOrElse(throw new IllegalArgumentException(
      s"materialized view '$name' is not registered"))
    val d = readDef(loc)
    val mvMan = new TxnManifest(manifestPath(loc))
    val mvB = mvMan.committed().keys.maxOption.getOrElse(-1)
    val state = if (mvB < 0) None else Some(stateFor(loc, mvB))
    Seq(
      "name" -> d.name,
      "source" -> d.src) ++
      d.dims.flatMap(dim => Seq(
        "dim" -> dim.name,
        s"join_type (${dim.name})" -> dim.joinType,
        s"join_on (${dim.name})" -> dim.pairs.map(p =>
          s"${p._1} = ${p._2}").mkString(" AND "))) ++ Seq(
      "location" -> loc,
      "group_keys" -> d.groupKeys.mkString(", ")) ++
      d.keyExprs.map { case (a, s) => s"key_expr ($a)" -> s } ++ Seq(
      "aggregates" -> d.aggs.map(a =>
        s"${a.out} = ${a.func}(${a.arg.getOrElse("*")})").mkString(", ")) ++
      d.where.map("where" -> _).toSeq ++
      d.bucket.map("bucketed_by" -> _).toSeq ++
      d.maxStalenessMs.map(ms => "max_staleness_ms" -> ms.toString).toSeq ++
      Seq(
      "maintenance" -> (if (d.additive) "additive"
        else "fold + delete-affected recompute"),
      "refresh_batch" -> mvB.toString,
      "consumed_source_version" -> state.map(_._1.toString).getOrElse("-")) ++
      state.toSeq.flatMap(s => d.dims.zip(s._2).map { case (dim, v) =>
        s"consumed_dim_version (${dim.name})" -> v.toString }) ++ Seq(
      "is_fresh" -> freshFor(spark, name).isDefined.toString)
  }

  // -------------------------------------------------- rewrite serving

  /** One output item of a rewritten query, in the query's SELECT
    * order: a group key or a matched view aggregate, under the
    * query's own alias. */
  private[plans] sealed trait ServeItem { def alias: String }
  private[plans] final case class ServeKey(key: String, alias: String)
    extends ServeItem
  private[plans] final case class ServeAgg(spec: AggSpec, alias: String)
    extends ServeItem
  /** A SELECT item whose expression must match one of the view's
    * COMPUTED keys (`date_trunc('day', ts) AS d`) — bound to the
    * stored key alias per candidate view ([[MvRewrite]]). */
  private[plans] final case class ServeKeyExpr(canon: String, alias: String)
    extends ServeItem
  /** A SELECT item COMPOSING matched aggregates with arithmetic /
    * CASE / casts over group keys (`sum(m) / count(*) AS ratio`,
    * `100 * sum(a) / sum(b) AS pct`): `expr` holds placeholder
    * attributes `__c<i>` where the i-th aggregate call sat, `specs`
    * the calls in placeholder order — rebound to the candidate
    * view's stored aggregates in [[MvRewrite.serveFrom]]. The
    * aggregate VALUES served are exactly the values direct execution
    * feeds the same expression, so evaluating it above the serve is
    * result-identical (same input types ⇒ same coercion). */
  private[plans] final case class ServeCompound(
      expr: org.apache.spark.sql.catalyst.expressions.Expression,
      specs: Seq[AggSpec], alias: String) extends ServeItem

  /** Can `spec` be re-aggregated ACROSS stored groups (a query whose
    * GROUP BY is a strict subset of the view's keys)? Everything but
    * count(DISTINCT) — distinct counts don't compose across groups. */
  private[plans] def rollupable(spec: AggSpec): Boolean =
    spec.func != "count_distinct"

  /** Serve a matched query from the view's store ([[MvRewrite]]).
    *
    * Direct (`rollup=false`, query keys == view keys): a projection
    * over the declared-output serve — zero aggregation at query time.
    *
    * Rollup (`rollup=true`, query keys ⊂ view keys): re-aggregate the
    * stored EXACT accumulators at the query's grain — count/sum fold
    * by addition, avg re-divides summed (sum, n) pairs, min/max
    * re-extremize; output types pinned to the view's probed output
    * schema (aggregate result types don't depend on grouping, so the
    * view's probe IS the query's direct-execution type). An empty
    * grouping list is the global-aggregate query: one row, count 0 /
    * sums NULL over an empty store, matching direct execution. */
  /** Rewrite a [[ServeCompound]]'s placeholder attributes to the
    * concrete column each bound aggregate serves under. */
  private def compoundCol(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      specs: Seq[AggSpec], nameOf: AggSpec => String): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.toColumn(e.transform {
      case a: UnresolvedAttribute if a.nameParts.length == 1 &&
          a.nameParts.head.startsWith("__c") =>
        UnresolvedAttribute(Seq(nameOf(
          specs(a.nameParts.head.drop(3).toInt))))
    })

  private[plans] def serve(spark: SparkSession, name: String,
                           rollup: Boolean, groupKeys: Seq[String],
                           items: Seq[ServeItem]): DataFrame = {
    val baseDir = lookup(name).getOrElse(throw new IllegalStateException(
      s"materialized view '$name' vanished mid-rewrite"))
    val d = readDef(baseDir)
    if (!rollup) {
      read(spark, name).select(items.map {
        case ServeKey(k, al) => col(k).as(al)
        case ServeAgg(a, al) => col(a.out).as(al)
        case ServeCompound(e, specs, al) =>
          compoundCol(e, specs, _.out).as(al)
        case other => throw new IllegalStateException(
          s"unbound serve item $other") // ServeKeyExpr binds upstream
      }: _*)
    } else {
      val raw = rawStorage(spark, baseDir, d)
      def outT(a: AggSpec): DataType =
        d.outSchema(d.outSchema.fieldIndex(a.out)).dataType
      // every aggregate the items need, computed ONCE at the query's
      // grain under an internal name — plain items project it,
      // compound items compose over it
      val needed = (items.collect { case ServeAgg(a, _) => a } ++
        items.flatMap { case ServeCompound(_, ss, _) => ss; case _ => Nil })
        .foldLeft(Vector.empty[AggSpec])((acc, a) =>
          if (acc.exists(x => x.func == a.func &&
              x.arg.map(norm) == a.arg.map(norm))) acc else acc :+ a)
      def rolledName(a: AggSpec): String = "__r_" + needed.indexWhere(x =>
        x.func == a.func && x.arg.map(norm) == a.arg.map(norm))
      val aggCols = needed.map { a =>
        (a.func match {
          case "count_star" | "count" =>
            coalesce(sum(col(a.out)), lit(0L)).cast(outT(a))
          case "sum" =>
            when(coalesce(sum(col(nCol(a.out))), lit(0L)) === 0, lit(null))
              .otherwise(sum(col(a.out))).cast(outT(a))
          case "avg" =>
            when(coalesce(sum(col(nCol(a.out))), lit(0L)) === 0, lit(null))
              .otherwise(sum(col(sCol(a.out))) / sum(col(nCol(a.out))))
              .cast(outT(a))
          case "min" => min(col(a.out)).cast(outT(a))
          case "max" => max(col(a.out)).cast(outT(a))
          // coarser-grain percentile: union the stored per-group GK
          // summaries (qtile_merge_agg) — the merge preserves the
          // shared ε rank bound, and the empty merge estimates NULL
          // exactly like vanilla approx_percentile over zero rows
          case q if q.startsWith("qtile:") =>
            graft.expressions.QuantileSketch.estimateCol(
              graft.expressions.QuantileSketch.mergeAggCol(col(a.out)),
              qtileP(q)).cast(outT(a))
          case other => throw new IllegalStateException(
            s"rollup over non-rollupable aggregate '$other'") // guarded upstream
        }).as(rolledName(a))
      }
      val served =
        if (aggCols.isEmpty) // pure-DISTINCT query: SELECT keys GROUP BY keys
          raw.select(groupKeys.map(col): _*).distinct()
        else if (groupKeys.isEmpty) raw.groupBy().agg(aggCols.head, aggCols.tail: _*)
        else raw.groupBy(groupKeys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
      served.select(items.map {
        case ServeKey(k, al) => col(k).as(al)
        case ServeAgg(a, al) => col(rolledName(a)).as(al)
        case ServeCompound(e, specs, al) =>
          compoundCol(e, specs, rolledName).as(al)
        case other => throw new IllegalStateException(
          s"unbound serve item $other")
      }: _*)
    }
  }
}

/** `CREATE MATERIALIZED VIEW [IF NOT EXISTS] <name> LOCATION '<dir>'
  * [BUCKETED BY (<n>)] AS <select>` — BUCKETED BY lays the store out
  * on the group keys (n buckets per key). */
final case class GraftMvCreateCommand(name: String, location: String,
                                      select: String,
                                      buckets: Option[Int] = None,
                                      ifNotExists: Boolean = false,
                                      maxStalenessMs: Option[Long] = None)
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (!(ifNotExists && GraftMvs.lookup(name).isDefined))
      GraftMvs.create(spark, name, location, select, buckets,
        maxStalenessMs)
    Seq.empty
  }
}

/** `ALTER MATERIALIZED VIEW <name> SET MAX_STALENESS INTERVAL 'n'
  * <unit>` / `... CLEAR MAX_STALENESS` — toggles bounded-staleness
  * serving on a live view. */
final case class GraftMvAlterStalenessCommand(name: String,
                                              maxStalenessMs: Option[Long])
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftMvs.setMaxStaleness(name, maxStalenessMs)
    Seq.empty
  }
}

/** `REFRESH MATERIALIZED VIEW <name> [FULL]` → one row
  * (from_version, to_version, applied). FULL forces one recompute
  * from the current snapshot — the recovery lever when the change
  * feed window is gone. */
final case class GraftMvRefreshCommand(name: String, full: Boolean = false)
  extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("from_version", IntegerType, nullable = false)(),
      AttributeReference("to_version", IntegerType, nullable = false)(),
      AttributeReference("applied", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (from, to, applied) = GraftMvs.refresh(spark, name, full)
    Seq(Row(from, to, applied))
  }
}

/** `DROP MATERIALIZED VIEW <name>` — unregisters (files remain; the
  * location is caller-owned, the VACUUM contract of temp state). */
final case class GraftMvDropCommand(name: String, ifExists: Boolean = false)
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (!(ifExists && GraftMvs.lookup(name).isEmpty)) GraftMvs.drop(name)
    Seq.empty
  }
}

/** `REFRESH ALL MATERIALIZED VIEWS [WITHIN STALENESS]` → one row per
  * registered view (name, from_version, to_version, applied) — the
  * nightly maintenance sweep as one statement. Views refresh
  * independently; a failing view fails the statement AFTER the prior
  * views committed (each refresh is its own atomic commit). WITHIN
  * STALENESS (opt-in) skips views that can still serve — fresh or
  * inside their declared MAX_STALENESS bound. */
final case class GraftMvRefreshAllCommand(withinStaleness: Boolean = false)
  extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("name", StringType, nullable = false)(),
      AttributeReference("from_version", IntegerType, nullable = false)(),
      AttributeReference("to_version", IntegerType, nullable = false)(),
      AttributeReference("applied", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftMvs.refreshAll(spark, withinStaleness)
      .map { case (n, f, t, a) => Row(n, f, t, a) }
}

/** `OPTIMIZE MATERIALIZED VIEW <name>` — bin-pack the view's store
  * (bucket-preserving for BUCKETED BY stores); freshness carried
  * forward. */
final case class GraftMvOptimizeCommand(name: String)
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftMvs.optimize(spark, name)
    Seq.empty
  }
}

/** `VACUUM MATERIALIZED VIEW <name> [RETAIN n HOURS] [DRY RUN]` →
  * one row per reclaimed (or reclaimable, under DRY RUN) dir. */
final case class GraftMvVacuumCommand(name: String,
                                      retainMillis: Option[Long],
                                      dryRun: Boolean = false)
  extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("deleted", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftMvs.vacuum(name, retainMillis, dryRun).map(Row(_))
}

/** `SHOW MATERIALIZED VIEWS` → (name, source, location, is_fresh). */
final case class GraftMvShowCommand() extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("name", StringType, nullable = false)(),
      AttributeReference("source", StringType, nullable = false)(),
      AttributeReference("location", StringType, nullable = false)(),
      AttributeReference("is_fresh", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftMvs.describeAll(spark).map { case (name, src, loc, fresh) =>
      Row(name, src, loc, fresh)
    }
}

/** `DESCRIBE MATERIALIZED VIEW <name>` → (property, value) rows. */
final case class GraftMvDescribeCommand(name: String)
  extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("property", StringType, nullable = false)(),
      AttributeReference("value", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftMvs.describe(spark, name).map { case (k, v) => Row(k, v) }
}
