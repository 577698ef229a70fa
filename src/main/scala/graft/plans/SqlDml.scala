package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
import org.apache.spark.sql.catalyst.parser.{CatalystSqlParser, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{col, expr}

import graft.sources.{Sinks, TxnManifest}

/** SQL-text DML on manifest tables — the verb set a SQL user coming
  * from the reference hits first: its watermark write is a literal
  * `MERGE` statement (`/root/reference/Main_Modules/Accounts/
  * accounts.py:131-140`), not an API call. `MERGE INTO` and
  * `DELETE FROM` over registered graft tables parse through Spark's
  * OWN grammar (Catalyst's AstBuilder already produces
  * [[MergeIntoTable]]/[[DeleteFromTable]] for any target) and route
  * to [[Sinks.merge]] — same copy-on-write, pruning, CDF, and atomic
  * manifest commit as the Scala API, because it IS the Scala API.
  *
  * Two entry points, same translation:
  *   - sessions built with [[GraftExtensions]] get the injected
  *     parser: `spark.sql("MERGE INTO wm USING updates ON ...")`
  *     just works (any statement not targeting a registered graft
  *     table passes through byte-identical);
  *   - [[GraftSql.execute]] is the runtime equivalent for sessions
  *     without the static extensions conf.
  *
  * Statement surface (Delta's common MERGE triple plus the full-sync
  * pair and column-level updates):
  * {{{
  *   MERGE INTO <graft_table> [AS t] USING <view_or_table> [AS s]
  *     ON t.k1 = s.k1 [AND t.k2 = s.k2 ...]
  *     [WHEN MATCHED [AND <pred>] THEN DELETE]
  *     [WHEN MATCHED [AND <pred>] THEN UPDATE
  *        SET * | SET t.c = <expr over t, s> [, ...]]
  *     [WHEN NOT MATCHED [AND <pred over s>] THEN INSERT
  *        * | (cols) VALUES (<exprs over s>)]
  *     [WHEN NOT MATCHED BY SOURCE [AND <pred over t>] THEN DELETE
  *       | UPDATE SET t.c = <expr over t> [, ...]]
  *   DELETE FROM <graft_table> WHERE <pred over table cols>
  *   UPDATE <graft_table> SET c = <expr> [, ...] [WHERE <pred>]
  * }}}
  * The ON condition must be a conjunction of same-named key
  * equalities (the engine's merge keys both sides by NAME).
  * `UPDATE SET *` replaces matched rows WHOLE (the fast path, the
  * same contract as [[Sinks.merge]]); an explicit SET list is a
  * COLUMN-LEVEL update — listed columns recompute from arbitrary
  * expressions over the target and source rows, unlisted columns
  * keep their target values, and touching a merge key fails loudly
  * (a key rewrite is a delete+insert, not an update). `SET *` /
  * `INSERT *` resolve against the TARGET's columns — a source-only
  * column (an op flag) never evolves the table schema unless the
  * registration opted in ([[GraftSqlTables.Entry.schemaEvolution]]).
  * Anything outside this surface fails loudly at parse with the
  * unsupported shape named — never a silent semantic change.
  */
object GraftSqlTables {

  /** A registered SQL-addressable manifest table. `keys` is the
    * row-identity DELETE resolves through (MERGE takes its keys from
    * the ON clause); `cdf` makes every DML statement record its
    * row-level change feed; `deletionVectors` makes DELETE FROM
    * merge-on-read ([[graft.sources.Sinks.mergeDeleteDV]] — zero data
    * rewritten) instead of copy-on-write; `schemaEvolution` lets a
    * MERGE `SET *` / `INSERT *` carry source-only columns into the
    * table (Delta's autoMerge opt-in — default is Delta's default:
    * the source projects to the target's columns). */
  final case class Entry(root: String, manifestPath: String,
                         keys: Seq[String], cdf: Boolean = false,
                         deletionVectors: Boolean = false,
                         schemaEvolution: Boolean = false,
                         schemaJson: Option[String] = None,
                         bloomColumns: Seq[String] = Nil,
                         schemaLogPath: Option[String] = None,
                         checks: Seq[(String, String)] = Nil,
                         clusterBy: Seq[String] = Nil,
                         isClone: Boolean = false,
                         bucketBy: Option[graft.sources.Bucketing.Spec] = None)

  private val tables =
    new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  private def norm(name: String): String = name.toLowerCase(java.util.Locale.ROOT)

  /** Make `name` addressable from SQL DML. Re-registering replaces —
    * the temp-view idiom. */
  def register(name: String, entry: Entry): Unit = {
    tables.put(norm(name), entry); ()
  }

  def unregister(name: String): Unit = { tables.remove(norm(name)); () }

  /** The column's declared DEFAULT expression SQL, when the table's
    * declared schema carries one (Spark's `CURRENT_DEFAULT` column
    * metadata — the catalog stores the CREATE-time schema verbatim;
    * parquet-read live schemas never carry it). */
  def defaultFor(entry: Entry, column: String): Option[String] =
    entry.schemaJson.flatMap { json =>
      declaredOf(json).fields.find(_.name.equalsIgnoreCase(column))
        .filter(_.metadata.contains("CURRENT_DEFAULT"))
        .map(_.metadata.getString("CURRENT_DEFAULT"))
    }

  /** (column, generation-expression SQL) for every GENERATED ALWAYS
    * AS column of the declared schema (Spark's generation-expression
    * column metadata). */
  def generatedCols(entry: Entry): Seq[(String, String)] =
    entry.schemaJson.toSeq.flatMap { json =>
      declaredOf(json).fields.toSeq.flatMap(f =>
        org.apache.spark.sql.catalyst.util.GeneratedColumn
          .getGenerationExpression(f).map(f.name -> _))
    }

  /** (column, spec) for every `GENERATED ... AS IDENTITY` column of
    * the declared schema (Spark's identity column metadata, folded in
    * by [[GraftCatalog.createTable]]). */
  def identityCols(entry: Entry)
    : Seq[(String, org.apache.spark.sql.connector.catalog.IdentityColumnSpec)] =
    entry.schemaJson.toSeq.flatMap { json =>
      declaredOf(json).fields.toSeq.flatMap(f =>
        org.apache.spark.sql.catalyst.util.IdentityColumn
          .getIdentityInfo(f).map(f.name -> _))
    }

  /** The write-side invariants a DML result frame must satisfy:
    * declared CHECK constraints plus one null-safe equality per
    * generated column — a path that RECOMPUTES generated columns
    * passes trivially; a path that lets the user provide them
    * (positional INSERT, MERGE `SET *`) gets Delta's
    * provided-must-match-expression validation for free. */
  def writeChecks(entry: Entry): Seq[(String, String)] =
    entry.checks ++ generatedCols(entry).map { case (c, g) =>
      s"generated_$c" -> s"$c <=> ($g)" }

  private def declaredOf(json: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** Programmatic registrations first; otherwise, a 2-part name whose
    * head is a [[GraftCatalog]] configured on the active session
    * resolves through the catalog's persisted metadata — DDL-created
    * tables take DML with no register() call (the catalog made
    * registration an implementation detail). */
  def lookup(nameParts: Seq[String]): Option[Entry] = {
    val joined = norm(nameParts.mkString("."))
    Option(tables.get(joined)).orElse {
      joined.split('.') match {
        case Array(cat, table) =>
          org.apache.spark.sql.SparkSession.getActiveSession.flatMap { s =>
            try s.sessionState.catalogManager.catalog(cat) match {
              case g: GraftCatalog => g.entryFor(table)
              case _               => None
            } catch { case scala.util.control.NonFatal(_) => None }
          }
        case _ => None
      }
    }
  }
}

/** The parse-time translation of a supported DML statement — plain
  * strings/names only (no Expression fields: nothing here needs, or
  * must survive, analysis; conditions are re-rendered to SQL text and
  * re-parsed against real DataFrames at run time). */
sealed trait GraftDmlSpec
/** `updateAssigns` None = `SET *` whole-row replace (the fast path
  * when also unconditional); Some = column-level update, `(target
  * column, value SQL)` pairs evaluated over the joined (target,
  * source) row. `updateCond` is the `WHEN MATCHED AND pred` guard —
  * matched rows failing it stay untouched (unless a delete clause
  * claims them). `updateFirst` records CLAUSE ORDER: per SQL MERGE,
  * the first clause whose condition holds wins the row, so
  * [UPDATE AND q, DELETE] deletes only ¬q, while [DELETE AND p,
  * UPDATE] updates only ¬p. `bySourceUpdate` is the full-sync UPDATE
  * arm: `(optional condition SQL, pairs)` over unmatched TARGET rows
  * only. */
final case class GraftMergeSpec(table: String, entry: GraftSqlTables.Entry,
                                sourceName: String, sourceAlias: Option[String],
                                targetAlias: Option[String],
                                keys: Seq[String],
                                updateArm: Boolean,
                                updateAssigns: Option[Seq[(String, String)]],
                                updateCond: Option[String],
                                updateFirst: Boolean,
                                insertArm: Boolean,
                                insertAssigns: Option[Seq[(String, String)]],
                                insertCond: Option[String],
                                deleteArm: Option[Option[String]],
                                deleteBySource: Boolean = false,
                                bySourceDeleteCond: Option[String] = None,
                                bySourceUpdate: Option[(Option[String], Seq[(String, String)])] = None)
  extends GraftDmlSpec
final case class GraftDeleteSpec(table: String, entry: GraftSqlTables.Entry,
                                 condSql: String) extends GraftDmlSpec
final case class GraftUpdateSpec(table: String, entry: GraftSqlTables.Entry,
                                 assigns: Seq[(String, String)],
                                 condSql: Option[String]) extends GraftDmlSpec

object GraftDml {

  /** Translate a parsed DML plan whose target is a registered graft
    * table; None = not ours (caller returns the plan untouched, so
    * Spark's own resolution error surfaces for unregistered names).
    * A registered target with an unsupported statement shape fails
    * loudly HERE — at parse, with the shape named. */
  def translate(plan: LogicalPlan): Option[GraftDmlSpec] = plan match {
    case m: MergeIntoTable =>
      relationName(m.targetTable).flatMap { tgt =>
        GraftSqlTables.lookup(tgt).map { entry0 =>
          // `MERGE ... WITH SCHEMA EVOLUTION` (Delta's per-statement
          // clause): source-only columns evolve the table for THIS
          // statement, on top of the table-level registration opt-in
          val entry =
            if (m.withSchemaEvolution) entry0.copy(schemaEvolution = true)
            else entry0
          val name = tgt.mkString(".")
          val (srcName, srcAlias) = sourceOf(name, m.sourceTable)
          val keys = keysOf(name, m.mergeCondition)
          // (column, value SQL) pairs for an explicit SET list; merge
          // keys and duplicate targets fail loudly here, at parse
          def assignPairs(clause: String,
                          assigns: Seq[Assignment]): Seq[(String, String)] = {
            val gens = GraftSqlTables.generatedCols(entry).map(_._1)
            val pairs = assigns.map { a =>
              val target = a.key match {
                case k: UnresolvedAttribute => k.nameParts.last
                case k => throw new IllegalArgumentException(
                  s"MERGE INTO $name: $clause target must be a column, " +
                    s"got ${k.sql}")
              }
              require(!keys.exists(_.equalsIgnoreCase(target)),
                s"MERGE INTO $name: $clause touches merge key '$target' — " +
                  "a key rewrite is a delete+insert, not an update")
              require(!gens.exists(_.equalsIgnoreCase(target)),
                s"MERGE INTO $name: $clause assigns GENERATED column " +
                  s"'$target' — it always recomputes from its expression")
              target -> a.value.sql
            }
            val dup = pairs.map(_._1.toLowerCase(java.util.Locale.ROOT))
              .groupBy(identity).collect { case (c, vs) if vs.size > 1 => c }
            require(dup.isEmpty,
              s"MERGE INTO $name: $clause assigns " +
                s"${dup.mkString(", ")} more than once")
            pairs
          }
          // the full-sync clauses: target rows absent from the source
          // disappear (Delta's NOT MATCHED BY SOURCE DELETE) or are
          // flagged in place (… UPDATE SET active = false)
          var deleteBySource = false
          var bySourceDeleteCond = Option.empty[String]
          var bySourceUpdate =
            Option.empty[(Option[String], Seq[(String, String)])]
          m.notMatchedBySourceActions match {
            case Nil =>
            case Seq(DeleteAction(cond)) =>
              deleteBySource = true
              bySourceDeleteCond = cond.map(_.sql)
            case Seq(UpdateAction(cond, assigns, _)) =>
              bySourceUpdate = Some((cond.map(_.sql),
                assignPairs("NOT MATCHED BY SOURCE UPDATE SET", assigns)))
            case as => throw new IllegalArgumentException(
              s"MERGE INTO $name: unsupported WHEN NOT MATCHED BY SOURCE " +
                s"actions (${as.size}) — supported: one DELETE [AND pred] " +
                "or one UPDATE SET [AND pred]")
          }
          // Spark's analyzer rule: only the LAST matched clause may
          // omit its condition — an unconditional earlier clause would
          // shadow everything after it, and accepting it here would
          // silently reorder the user's stated semantics
          m.matchedActions.dropRight(1).foreach { a =>
            val cond = a match {
              case UpdateStarAction(c)   => c
              case UpdateAction(c, _, _) => c
              case DeleteAction(c)       => c
              case _                     => None
            }
            require(cond.nonEmpty,
              s"MERGE INTO $name: unconditional WHEN MATCHED clause " +
                "precedes another matched clause — only the last " +
                "matched clause may omit its condition")
          }
          var update = false
          var updateAssigns = Option.empty[Seq[(String, String)]]
          var updateCond = Option.empty[String]
          var delete = Option.empty[Option[String]]
          var updateFirst = false
          m.matchedActions.foreach {
            case UpdateStarAction(cond) =>
              require(!update,
                s"MERGE INTO $name: more than one WHEN MATCHED UPDATE clause")
              update = true
              updateCond = cond.map(_.sql)
              updateFirst = delete.isEmpty
            case UpdateAction(cond, assigns, _) =>
              require(!update,
                s"MERGE INTO $name: more than one WHEN MATCHED UPDATE clause")
              update = true
              updateCond = cond.map(_.sql)
              updateAssigns = Some(assignPairs("UPDATE SET", assigns))
              updateFirst = delete.isEmpty
            case DeleteAction(cond) =>
              require(delete.isEmpty,
                s"MERGE INTO $name: more than one WHEN MATCHED DELETE clause")
              delete = Some(cond.map(_.sql))
            case a => throw new IllegalArgumentException(
              s"MERGE INTO $name: unsupported WHEN MATCHED action " +
                s"${a.getClass.getSimpleName} — supported: one " +
                "UPDATE [AND pred] SET */assignments and one DELETE [AND pred]")
          }
          // INSERT [AND pred] * | (cols) VALUES (exprs over s) — the
          // column list may be partial (unlisted target columns land
          // NULL, Delta's rule) but must assign every merge key (a
          // NULL-keyed insert has no row identity)
          var insert = false
          var insertAssigns = Option.empty[Seq[(String, String)]]
          var insertCond = Option.empty[String]
          m.notMatchedActions match {
            case Nil =>
            case Seq(InsertStarAction(cond)) =>
              insert = true; insertCond = cond.map(_.sql)
            case Seq(InsertAction(cond, assigns)) =>
              insert = true
              insertCond = cond.map(_.sql)
              val insGens = GraftSqlTables.generatedCols(entry).map(_._1)
              val pairs = assigns.map { a =>
                val target = a.key match {
                  case k: UnresolvedAttribute => k.nameParts.last
                  case k => throw new IllegalArgumentException(
                    s"MERGE INTO $name: INSERT target must be a column, " +
                      s"got ${k.sql}")
                }
                require(!insGens.exists(_.equalsIgnoreCase(target)),
                  s"MERGE INTO $name: INSERT assigns GENERATED column " +
                    s"'$target' — it always computes from its expression")
                target -> a.value.sql
              }
              val dup = pairs.map(_._1.toLowerCase(java.util.Locale.ROOT))
                .groupBy(identity).collect { case (c, vs) if vs.size > 1 => c }
              require(dup.isEmpty,
                s"MERGE INTO $name: INSERT assigns " +
                  s"${dup.mkString(", ")} more than once")
              keys.foreach(k => require(
                pairs.exists(_._1.equalsIgnoreCase(k)),
                s"MERGE INTO $name: INSERT column list must assign merge " +
                  s"key '$k' — an unkeyed insert has no row identity"))
              insertAssigns = Some(pairs)
            case as => throw new IllegalArgumentException(
              s"MERGE INTO $name: unsupported WHEN NOT MATCHED actions " +
                s"(${as.size}) — supported: one INSERT [AND pred] * " +
                "(or a column list with expressions over the source)")
          }
          require(update || insert || delete.nonEmpty || deleteBySource ||
              bySourceUpdate.nonEmpty,
            s"MERGE INTO $name has no supported action clause")
          GraftMergeSpec(name, entry, srcName, srcAlias,
            aliasOf(m.targetTable), keys, update, updateAssigns,
            updateCond, updateFirst, insert, insertAssigns, insertCond,
            delete, deleteBySource, bySourceDeleteCond, bySourceUpdate)
        }
      }
    case d: DeleteFromTable =>
      relationName(d.table).flatMap { tgt =>
        GraftSqlTables.lookup(tgt).map { entry =>
          val name = tgt.mkString(".")
          require(entry.keys.nonEmpty,
            s"DELETE FROM $name: table registered without keys — " +
              "row identity is undefined")
          GraftDeleteSpec(name, entry, d.condition.sql)
        }
      }
    case u: UpdateTable =>
      relationName(u.table).flatMap { tgt =>
        GraftSqlTables.lookup(tgt).map { entry =>
          val name = tgt.mkString(".")
          require(entry.keys.nonEmpty,
            s"UPDATE $name: table registered without keys — " +
              "row identity is undefined")
          val gens = GraftSqlTables.generatedCols(entry).map(_._1)
          val assigns = u.assignments.map { a =>
            val target = a.key match {
              case k: UnresolvedAttribute => k.nameParts.last
              case k => throw new IllegalArgumentException(
                s"UPDATE $name: SET target must be a column, got ${k.sql}")
            }
            require(!entry.keys.exists(_.equalsIgnoreCase(target)),
              s"UPDATE $name: SET touches key column '$target' — key " +
                "rewrites are a delete+insert; use MERGE")
            require(!gens.exists(_.equalsIgnoreCase(target)),
              s"UPDATE $name: SET assigns GENERATED column '$target' — " +
                "it always recomputes from its expression")
            target -> a.value.sql
          }
          GraftUpdateSpec(name, entry, assigns, u.condition.map(_.sql))
        }
      }
    case _ => None
  }

  /** Execute a translated statement through the engine's merge. The
    * batch id is auto-assigned (max committed id + 1) — the SQL
    * surface never asks a user for one. */
  def run(spark: SparkSession, spec: GraftDmlSpec): Unit = spec match {
    case GraftMergeSpec(table, entry, srcName, srcAlias, targetAlias, keys,
                        update, updateAssigns, updateCond, updateFirst,
                        insert, insertAssigns, insertCond, delete,
                        deleteBySource, bySourceDeleteCond, bySourceUpdate) =>
      import org.apache.spark.sql.Column
      import org.apache.spark.sql.functions.{coalesce, lit, when}
      val man = new TxnManifest(entry.manifestPath)
      val mergeId = nextBatchId(man)
      val keyCols = keys.map(col)
      val src0 = spark.table(srcName)
      val src = srcAlias.fold(src0)(src0.alias)
      // qualifiers for expression arms: the statement's aliases, with
      // the table/view name itself as the unaliased fallback (exactly
      // what an alias-free statement's references resolve against)
      val tA = targetAlias.getOrElse(table.split('.').last)
      val sQ = srcAlias.getOrElse(srcName)
      // a columnMapping table merges in LOGICAL space — the statement
      // keeps working across renames — and translates to physical
      // names only at the Sinks.merge boundary (the file layer)
      // IDENTITY tables refuse MERGE wholesale (Delta's historical
      // restriction): the insert arm would need allocation and SET *
      // would clobber allocated values — INSERT / UPDATE / DELETE
      // statements cover the same work safely
      require(GraftSqlTables.identityCols(entry).isEmpty,
        s"MERGE INTO $table: tables with IDENTITY columns do not " +
          "support MERGE — use INSERT (allocates), UPDATE, and DELETE " +
          "statements instead")
      val mapLog = mappedLogOf(table, entry)
      val tgt = mapLog match {
        case Some(log) =>
          graft.sources.SchemaLog.readCommittedMapped(spark, entry.root,
            man, log)
        case None => GraftDml.committedRead(spark, entry, man)
      }
      // SET * / INSERT * resolve against the TARGET's columns: a
      // source-only column (an op flag) must not silently evolve the
      // table schema — Delta's rule, evolution behind the Entry opt-in
      def aligned(u: DataFrame, tags: Column*): DataFrame = {
        val keep =
          if (entry.schemaEvolution) u.columns.toSeq
          else tgt.columns.toSeq.filter(c =>
            u.columns.exists(_.equalsIgnoreCase(c)))
        u.select(keep.map(col) ++ tags: _*)
      }
      // target-schema projection with an explicit SET list applied:
      // listed columns recompute (cast to the column's type, SQL
      // assignment semantics), unlisted keep their target values —
      // all against the OLD row, simultaneously, in one select;
      // GENERATED columns then recompute from the NEW values
      def applyAssigns(frame: DataFrame,
                       assigns: Seq[(String, String)]): DataFrame =
        GraftDml.recomputeGenerated(entry,
          frame.select(tgt.schema.fields.map { f =>
            assigns.find(_._1.equalsIgnoreCase(f.name))
              .map { case (_, v) => expr(v).cast(f.dataType).as(f.name) }
              .getOrElse(col(s"$tA.${f.name}").as(f.name))
          }.toIndexedSeq: _*))
      def condOf(c: Option[String]) =
        c.map(x => coalesce(expr(x), lit(false))).getOrElse(lit(true))
      // every arm hands Sinks.mergeRows rows TAGGED with what they do
      // when their key matches a target row and when it does not;
      // the merge's first pass over the target decides which holds
      def tags(onMatch: Column, onMiss: Column): Seq[Column] =
        Seq(onMatch.as(Sinks.OnMatchCol), onMiss.as(Sinks.OnMissCol))
      val noAction = lit(null).cast("string")
      // INSERT [AND pred] rows: the predicate (over s) gates which
      // unmatched source rows insert at all. An explicit column list
      // computes listed columns from expressions over the source row
      // and fills unlisted ones from their declared DEFAULT (Delta's
      // rule) or NULL; GENERATED columns compute from the resolved
      // values
      def insertRows(as: Seq[(String, String)]): DataFrame =
        GraftDml.recomputeGenerated(entry,
          src.where(condOf(insertCond)).select(tgt.schema.fields.map { f =>
            as.find(_._1.equalsIgnoreCase(f.name))
              .map { case (_, v) => expr(v).cast(f.dataType).as(f.name) }
              .getOrElse(GraftSqlTables.defaultFor(entry, f.name)
                .map(d => expr(d).cast(f.dataType).as(f.name))
                .getOrElse(lit(null).cast(f.dataType).as(f.name)))
          }.toIndexedSeq: _*)).select(col("*") +: tags(noAction, lit(true)): _*)
      // ---- matched arms. Two evaluation strategies:
      //   FAST PATH (unconditional SET * / no update): the delete
      //   condition evaluates over SOURCE columns and whole source
      //   rows feed the merge — no target join at all; a key any
      //   matched source row deletes updates none of its rows.
      //   JOINED PATH (conditional and/or column-level UPDATE): the
      //   (target ⋈ source) row evaluates both clauses' conditions,
      //   and CLAUSE ORDER decides which arm claims a row (the first
      //   true condition wins — SQL MERGE semantics; a NULL condition
      //   is false). Either way, WHEN MATCHED clauses see MATCHED
      //   rows only: an unmatched source row satisfying the delete
      //   predicate still flows to the INSERT arm.
      val useJoined = update && (updateAssigns.isDefined || updateCond.isDefined)
      val sourceArms: Seq[DataFrame] =
        if (!useJoined) {
          val upd = if (update) lit("update") else noAction
          val onMatch = delete.fold(upd)(d =>
            when(condOf(d), lit("delete")).otherwise(upd))
          insertAssigns match {
            case None =>
              Seq(aligned(src, tags(onMatch,
                if (insert) condOf(insertCond) else lit(false)): _*))
            case Some(as) =>
              (if (update || delete.nonEmpty)
                Seq(aligned(src, tags(onMatch, lit(false)): _*))
              else Nil) :+ insertRows(as)
          }
        } else {
          val joinCond = keys.map(k => col(s"$tA.$k") === col(s"$sQ.$k"))
            .reduce(_ && _)
          val joined = tgt.alias(tA).join(src, joinCond, "inner")
          val uRaw = condOf(updateCond)
          val (updPred, delPred) = delete match {
            case None => (uRaw, None)
            case Some(dCond) =>
              val dRaw = condOf(dCond)
              if (updateFirst) (uRaw, Some(!uRaw && dRaw))
              else (!dRaw && uRaw, Some(dRaw))
          }
          val updHit = joined.where(updPred)
          val updateRows = updateAssigns match {
            case Some(as) => applyAssigns(updHit, as)
            case None => // conditional SET *: source side, target shape
              val srcCols = src.columns.toSeq
              val keep =
                if (entry.schemaEvolution) srcCols
                else tgt.columns.toSeq
                  .filter(c => srcCols.exists(_.equalsIgnoreCase(c)))
              updHit.select(keep.map(c => col(s"$sQ.$c").as(c)): _*)
          }
          val mDel = delPred.map(p => joined.where(p)
            .select(keys.map(k => col(s"$tA.$k").as(k)) ++
              tags(lit("delete"), lit(false)): _*))
          val ins =
            if (!insert) None
            else Some(insertAssigns.fold(
              aligned(src.where(condOf(insertCond)),
                tags(noAction, lit(true)): _*))(insertRows))
          Seq(updateRows.select(col("*") +: tags(lit("update"), lit(false)): _*)) ++
            mDel ++ ins
        }
      // NOT MATCHED BY SOURCE: target keys absent from the source —
      // disjoint from the matched arms by construction. Unconditional
      // stays keys-only (cheap); a condition needs the full target row
      val bySourceDel =
        if (!deleteBySource) None
        else Some((bySourceDeleteCond match {
          case None =>
            tgt.select(keyCols: _*).join(src.select(keyCols: _*), keys, "left_anti")
          case Some(c) =>
            tgt.alias(tA).join(src.select(keyCols: _*), keys, "left_anti")
              .where(condOf(Some(c)))
              .select(keys.map(k => col(s"$tA.$k").as(k)): _*)
        }).select(col("*") +: tags(lit("delete"), lit(false)): _*))
      // full-sync UPDATE arm: unmatched TARGET rows flagged in place,
      // same atomic commit as everything else
      val bySrcUpd = bySourceUpdate.map { case (condSql, assigns) =>
        val unmatched = tgt.alias(tA)
          .join(src.select(keyCols: _*), keys, "left_anti")
        applyAssigns(condSql.fold(unmatched)(c => unmatched.where(expr(c))),
          assigns).select(col("*") +: tags(lit("update"), lit(false)): _*)
      }
      val rows = (sourceArms ++ bySourceDel ++ bySrcUpd)
        .reduce(_.unionByName(_, allowMissingColumns = true))
      val writes = update || insert || bySourceUpdate.nonEmpty
      // CHECK constraints + generated-column invariants see the
      // LOGICAL rows the merge will update or insert before anything
      // physicalizes or commits
      def checked(logical: DataFrame => DataFrame)(rows: DataFrame): Unit =
        graft.sources.CheckConstraints.enforce(table,
          GraftSqlTables.writeChecks(entry), logical(rows), "MERGE INTO")
      mapLog match {
        case None =>
          Sinks.mergeRows(spark, rows, writes, deleteWins = !useJoined,
            entry.root, man, keys, mergeId, cdf = entry.cdf,
            unionRoots = entry.isClone, physSchema = None,
            bucketBy = entry.bucketBy, validate = checked(identity))
        case Some(log) =>
          val phys = physicalizer(table, log)
          Sinks.mergeRows(spark, phys.frame(rows), writes,
            deleteWins = !useJoined, entry.root, man, keys.map(phys.column),
            mergeId, cdf = entry.cdf, unionRoots = false,
            physSchema = Some(phys.physSchema),
            bucketBy = entry.bucketBy.map(phys.bucket),
            validate = checked(phys.logical))
      }
    case GraftUpdateSpec(table, entry, assigns, condSql) =>
      val man = new TxnManifest(entry.manifestPath)
      val mergeId = nextBatchId(man)
      val mapLog = mappedLogOf(table, entry)
      val cur = mapLog match {
        case Some(log) =>
          graft.sources.SchemaLog.readCommittedMapped(spark, entry.root,
            man, log)
        case None => GraftDml.committedRead(spark, entry, man)
      }
      assigns.foreach { case (c, _) =>
        require(cur.columns.exists(_.equalsIgnoreCase(c)),
          s"UPDATE $table: SET names unknown column '$c' " +
            s"(have: ${cur.columns.mkString(", ")})")
        require(!GraftSqlTables.identityCols(entry)
            .exists(_._1.equalsIgnoreCase(c)),
          s"UPDATE $table: IDENTITY column '$c' cannot be updated — " +
            "its values are engine-allocated")
      }
      val dupTargets = assigns.map(_._1.toLowerCase(java.util.Locale.ROOT))
        .groupBy(identity).collect { case (c, vs) if vs.size > 1 => c }
      require(dupTargets.isEmpty,
        s"UPDATE $table: column assigned more than once: " +
          dupTargets.mkString(", "))
      // matched rows with assignments applied, replaced WHOLE through
      // the same upsert arm a MERGE uses; unmatched rows stay behind
      // in their dirs (only affected dirs rewrite). SQL SET semantics
      // are SIMULTANEOUS — every assignment evaluates against the OLD
      // row (`SET a = b, b = a` swaps), so all expressions project in
      // ONE select over the original frame, never a sequential fold
      val matched = condSql.fold(cur)(c => cur.where(expr(c)))
      // SQL assignment semantics CAST to the column's type (what
      // MERGE's applyAssigns does) — a bare literal must not drift
      // the column (SET score = 1.5 on a DOUBLE column stays DOUBLE,
      // not decimal(2,1))
      val ups0 = GraftDml.recomputeGenerated(entry,
        matched.select(matched.schema.fields.map { f =>
          assigns.find(_._1.equalsIgnoreCase(f.name))
            .map { case (_, v) => expr(v).cast(f.dataType).as(f.name) }
            .getOrElse(col(f.name))
        }.toIndexedSeq: _*))
      graft.sources.CheckConstraints.enforce(table,
        GraftSqlTables.writeChecks(entry), ups0, "UPDATE")
      val (ups, physKeys, physSchema, physBucket) = mapLog match {
        case None => (ups0, entry.keys, None, entry.bucketBy)
        case Some(log) =>
          val phys = physicalizer(table, log)
          (phys.frame(ups0), entry.keys.map(phys.column),
            Some(phys.physSchema), entry.bucketBy.map(phys.bucket))
      }
      // deletionVectors registration makes UPDATE merge-on-read too:
      // old versions vectored, new versions appended, O(changed rows)
      if (entry.deletionVectors)
        Sinks.mergeUpdateDV(spark, ups, entry.root, man, physKeys, mergeId,
          cdf = entry.cdf, unionRoots = entry.isClone,
          physSchema = physSchema, bucketBy = physBucket)
      else
        Sinks.mergeUpsert(spark, ups, entry.root, man, physKeys, mergeId,
          cdf = entry.cdf, unionRoots = entry.isClone,
          physSchema = physSchema, bucketBy = physBucket)
    case GraftDeleteSpec(table, entry, condSql) =>
      val man = new TxnManifest(entry.manifestPath)
      val mergeId = nextBatchId(man)
      val mapLog = mappedLogOf(table, entry)
      // RETENTION fast path — the O(1) aged-slice drop: when the
      // predicate translates to exact V1 filters and the stats
      // sidecars prove every dir fully-covered-or-untouched, the
      // delete is ONE metadata swap (zero data files read/written,
      // Sinks.retentionDelete). cdf tables and clones take the
      // row-level path (the feed needs deltas; clones span roots).
      val fastDone = !entry.cdf && !entry.isClone &&
        GraftDml.simpleFilters(condSql).exists { fs0 =>
          val (fsPhys, physSchemaF, physBucketF) = mapLog match {
            case None => (Some(fs0), None, entry.bucketBy)
            case Some(log) =>
              val cols = log.current()._2
              val t = graft.sources.GraftManifestSource
                .translateFilters(fs0, cols)
              // EVERY conjunct must survive translation — a dropped
              // one would widen the predicate and delete live rows
              (if (t.length == fs0.length) Some(t) else None,
                Some(graft.sources.SchemaLog.physicalSchema(cols)),
                entry.bucketBy.map(graft.sources.Bucketing.physical(_, cols)))
          }
          fsPhys.exists(f => Sinks.retentionDelete(spark, entry.root, man,
            mergeId, f, physSchema = physSchemaF, bucketBy = physBucketF))
        }
      if (fastDone) return
      val cur = mapLog match {
        case Some(log) =>
          graft.sources.SchemaLog.readCommittedMapped(spark, entry.root,
            man, log)
        case None => GraftDml.committedRead(spark, entry, man)
      }
      val delKeys0 = cur.where(expr(condSql))
        .select(entry.keys.map(col): _*).distinct()
      val (delKeys, physKeys, physSchema, physBucket) = mapLog match {
        case None => (delKeys0, entry.keys, None, entry.bucketBy)
        case Some(log) =>
          val phys = physicalizer(table, log)
          (phys.frame(delKeys0), entry.keys.map(phys.column),
            Some(phys.physSchema), entry.bucketBy.map(phys.bucket))
      }
      if (entry.deletionVectors)
        Sinks.mergeDeleteDV(spark, delKeys, entry.root, man, physKeys,
          mergeId, cdf = entry.cdf, unionRoots = entry.isClone,
          physSchema = physSchema)
      else
        Sinks.mergeDelete(spark, delKeys, entry.root, man, physKeys, mergeId,
          cdf = entry.cdf, unionRoots = entry.isClone,
          physSchema = physSchema, bucketBy = physBucket)
  }

  /** The DELETE condition as exact V1 filters — simple comparisons
    * of a column against a literal, combined with AND/OR, nothing
    * else: the retention fast path must never widen OR narrow the
    * predicate, so any shape without a perfect filter twin yields
    * None (the row-level delete takes over). */
  private[plans] def simpleFilters(condSql: String)
    : Option[Seq[org.apache.spark.sql.sources.Filter]] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.{sources => fs}
    def attr(e: ce.Expression): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.length == 1 =>
        Some(a.nameParts.head)
      case _ => None
    }
    def litOf(e: ce.Expression): Option[Any] = e match {
      case ce.Literal(v, dt) if v != null =>
        Some(org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToScala(v, dt))
      case _ => None
    }
    def one(e: ce.Expression): Option[fs.Filter] = e match {
      case ce.LessThan(a, v) =>
        (for { c <- attr(a); x <- litOf(v) } yield fs.LessThan(c, x))
          .orElse(for { c <- attr(v); x <- litOf(a) } yield fs.GreaterThan(c, x))
      case ce.LessThanOrEqual(a, v) =>
        (for { c <- attr(a); x <- litOf(v) } yield fs.LessThanOrEqual(c, x))
          .orElse(for { c <- attr(v); x <- litOf(a) }
            yield fs.GreaterThanOrEqual(c, x))
      case ce.GreaterThan(a, v) =>
        (for { c <- attr(a); x <- litOf(v) } yield fs.GreaterThan(c, x))
          .orElse(for { c <- attr(v); x <- litOf(a) } yield fs.LessThan(c, x))
      case ce.GreaterThanOrEqual(a, v) =>
        (for { c <- attr(a); x <- litOf(v) } yield fs.GreaterThanOrEqual(c, x))
          .orElse(for { c <- attr(v); x <- litOf(a) }
            yield fs.LessThanOrEqual(c, x))
      case ce.EqualTo(a, v) =>
        (for { c <- attr(a); x <- litOf(v) } yield fs.EqualTo(c, x))
          .orElse(for { c <- attr(v); x <- litOf(a) } yield fs.EqualTo(c, x))
      case ce.In(a, vs) =>
        for { c <- attr(a)
              xs <- Some(vs.map(litOf)) if xs.forall(_.isDefined) }
          yield fs.In(c, xs.map(_.get).toArray)
      case ce.IsNull(a)    => attr(a).map(fs.IsNull)
      case ce.IsNotNull(a) => attr(a).map(fs.IsNotNull)
      case ce.And(l, r) => for { x <- one(l); y <- one(r) } yield fs.And(x, y)
      case ce.Or(l, r)  => for { x <- one(l); y <- one(r) } yield fs.Or(x, y)
      case _ => None
    }
    val parsed =
      try CatalystSqlParser.parseExpression(condSql)
      catch { case scala.util.control.NonFatal(_) => return None }
    one(parsed).map(Seq(_))
  }

  /** The committed view a DML statement evaluates against — a SHALLOW
    * CLONE's manifest spans the source's root (inherited, zero-copy)
    * and its own (divergence), so clone reads union every root the
    * manifest names; plain tables filter to their own. */
  private[plans] def committedRead(spark: SparkSession,
                                   entry: GraftSqlTables.Entry,
                                   man: TxnManifest): DataFrame = {
    val base =
      if (entry.isClone) Sinks.readCommittedUnion(spark, man)
      else Sinks.readCommitted(spark, entry.root, man)
    // declared columns no file carries yet (ALTER ADD COLUMN on a
    // plain table) serve as typed NULLs, so every DML verb sees the
    // full table schema before the first write lands in the column
    entry.schemaJson.fold(base) { json =>
      val declared = org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType].fields
      declared.filterNot(f =>
          base.columns.exists(_.equalsIgnoreCase(f.name)))
        .foldLeft(base)((df, f) => df.withColumn(f.name,
          org.apache.spark.sql.functions.lit(null).cast(f.dataType)))
    }
  }

  /** GENERATED ALWAYS AS columns recomputed from the frame's CURRENT
    * values (post-assignment) — generation expressions may reference
    * only non-generated columns (Spark validates at CREATE), so one
    * pass suffices. */
  private[plans] def recomputeGenerated(entry: GraftSqlTables.Entry,
                                        frame: DataFrame): DataFrame =
    GraftSqlTables.generatedCols(entry).foldLeft(frame) {
      case (df, (c, g)) =>
        df.schema.fields.find(_.name.equalsIgnoreCase(c)) match {
          case Some(f) => df.withColumn(f.name, expr(g).cast(f.dataType))
          case None    => df
        }
    }

  /** The table's live [[graft.sources.SchemaLog]], when it is a
    * columnMapping table. DML on mapped tables evaluates in LOGICAL
    * space and physicalizes at the sink boundary; schema-evolution
    * drift cannot combine with a mapping (the catalog rejects the
    * combination at CREATE, re-checked here for programmatic
    * registrations). */
  private def mappedLogOf(table: String, entry: GraftSqlTables.Entry)
    : Option[graft.sources.SchemaLog] =
    entry.schemaLogPath.map { p =>
      require(!entry.schemaEvolution,
        s"$table: columnMapping and schemaEvolution are mutually " +
          "exclusive — mapped tables evolve through ALTER TABLE ADD COLUMN")
      new graft.sources.SchemaLog(p)
    }

  /** Logical → physical renames against one snapshot of the mapping
    * (one `current()` read per statement, so a concurrent rename
    * cannot split a statement across two schema versions). */
  private final case class Physicalizer(table: String,
                                        cols: Seq[graft.sources.SchemaLog.Col]) {
    /** The explicit file-read schema DML passes to the Sinks layer —
      * a widen-only retype makes physical file types heterogeneous,
      * which mergeSchema refuses and an explicit schema promotes. */
    def physSchema: org.apache.spark.sql.types.StructType =
      graft.sources.SchemaLog.physicalSchema(cols)
    def column(c: String): String =
      cols.find(_.logical.equalsIgnoreCase(c)).map(_.physical)
        .getOrElse(throw new IllegalArgumentException(
          s"$table: column '$c' is not in the table's column mapping " +
            s"(have: ${cols.map(_.logical).mkString(", ")})"))
    def frame(df: DataFrame): DataFrame =
      df.select(df.columns.map(c =>
        if (c == Sinks.OnMatchCol || c == Sinks.OnMissCol) col(c)
        else col(c).as(column(c))).toIndexedSeq: _*)
    /** [[frame]]'s inverse: physical names back to logical ones. */
    def logical(df: DataFrame): DataFrame =
      df.select(df.columns.map(c => cols.find(_.physical == c)
        .fold(col(c))(m => col(c).as(m.logical))).toIndexedSeq: _*)
    /** The bucket spec's PHYSICAL twin — what the Sinks layer routes
      * and marks with. */
    def bucket(b: graft.sources.Bucketing.Spec): graft.sources.Bucketing.Spec =
      graft.sources.Bucketing.physical(b, cols)
  }

  private def physicalizer(table: String,
                           log: graft.sources.SchemaLog): Physicalizer =
    Physicalizer(table, log.current()._2)

  private def nextBatchId(man: TxnManifest): Int = {
    val ids = man.committed().keySet
    require(ids.nonEmpty, "nothing committed yet — DML needs a live table")
    ids.max + 1
  }

  private def relationName(plan: LogicalPlan): Option[Seq[String]] =
    plan match {
      case r: UnresolvedRelation => Some(r.multipartIdentifier)
      case SubqueryAlias(_, r: UnresolvedRelation) =>
        Some(r.multipartIdentifier)
      case _ => None
    }

  private def aliasOf(plan: LogicalPlan): Option[String] = plan match {
    case SubqueryAlias(id, _: UnresolvedRelation) => Some(id.name)
    case _                                        => None
  }

  private def sourceOf(table: String,
                       plan: LogicalPlan): (String, Option[String]) =
    plan match {
      case r: UnresolvedRelation => (r.multipartIdentifier.mkString("."), None)
      case SubqueryAlias(id, r: UnresolvedRelation) =>
        (r.multipartIdentifier.mkString("."), Some(id.name))
      case p => throw new IllegalArgumentException(
        s"MERGE INTO $table: USING must name a table or view " +
          s"(register a temp view for a subquery); got ${p.nodeName}")
    }

  /** ON must be a conjunction of same-named key equalities — the
    * engine merges by NAME on both sides ([[Sinks.merge]]). */
  private def keysOf(table: String, cond: Expression): Seq[String] = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other     => Seq(other)
    }
    split(cond).map {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
          if a.nameParts.last.equalsIgnoreCase(b.nameParts.last) =>
        a.nameParts.last
      case e => throw new IllegalArgumentException(
        s"MERGE INTO $table: ON must be a conjunction of same-named " +
          s"key equalities (t.k = s.k); got ${e.sql}")
    }.distinct
  }

}

/** The eagerly-executed command a DML statement parses to (commands
  * run at `spark.sql(...)` call time, like every Spark DML). */
final case class GraftDmlCommand(spec: GraftDmlSpec)
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftDml.run(spark, spec)
    Seq.empty
  }
}

/** Delta's maintenance verb set over registered graft tables — SQL
  * Spark has NO grammar for, so these statements are recognized
  * BEFORE delegation (only when the named table is registered;
  * anything else reaches Spark's parser byte-identical and fails
  * with its own error):
  * {{{
  *   OPTIMIZE <tbl>                          -- bin-pack compaction
  *   OPTIMIZE <tbl> ZORDER BY (c1[, c2...])  -- incremental z-order
  *   VACUUM <tbl> [RETAIN <n> HOURS]         -- orphan sweep
  *   DESCRIBE HISTORY <tbl>                  -- version log + clocks
  *   RESTORE <tbl> TO VERSION AS OF <v>
  *   RESTORE <tbl> TO TIMESTAMP AS OF '<ts>' -- epoch ms or UTC wall
  *   INSERT INTO|OVERWRITE <tbl> <select>    -- see GraftInsertCommand
  *   COPY INTO <tbl> FROM '<loc>' FILEFORMAT = PARQUET
  *     [PATTERN = '<glob>'] [COPY_OPTIONS ('force' = 'true')]
  * }}}
  * OPTIMIZE sizes its output at ~128 MB per file (Delta's optimize
  * target) from the live dirs' byte sum; ZORDER runs the INCREMENTAL
  * path — generations already ordered under the same spec stay
  * byte-untouched, O(new data) maintenance. */
/** `INSERT INTO` / `INSERT OVERWRITE` on a registered graft table.
  * Recognized at TEXT level (the source query's SQL must survive to
  * run time — it executes as `spark.sql(select)` there, so views,
  * CTEs, and VALUES all work); the select text is validated by the
  * delegate parser at statement-parse time so syntax errors surface
  * immediately. Classic positional semantics: without a column list
  * the query must produce the table's column COUNT and columns rename
  * positionally; WITH a column list (`INSERT INTO t (a, c) SELECT`)
  * the query feeds the LISTED columns and every unlisted column fills
  * from its declared DEFAULT (ANSI / Delta rule) or NULL. INTO
  * appends one stats-indexed batch; OVERWRITE replaces the table
  * atomically ([[graft.sources.Sinks.insertOverwrite]]) and marks the
  * change feed collapsed. */
final case class GraftInsertCommand(table: String,
                                    entry: GraftSqlTables.Entry,
                                    selectSql: String, overwrite: Boolean,
                                    insertCols: Option[Seq[String]] = None)
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val src = spark.sql(selectSql)
    GraftInsertCommand.write(spark, table, entry, src, insertCols, overwrite)
    Seq.empty
  }
}

/** The one append/overwrite write path for registered graft tables —
  * statement INSERT, the V1 batch-write fallback's sibling, and COPY
  * INTO all land here: schema alignment (positional or listed-column
  * with DEFAULT / generated-column handling), CHECK enforcement,
  * mapped-table physicalization, stats/bloom sidecars, one manifest
  * CAS. `beforeCommit(batchId)` runs after the batch's data + sidecar
  * files land and immediately before the manifest CAS — COPY INTO
  * hangs its file-tracking entry there so tracking and data commit
  * as one unit (an entry counts only once its batch committed). */
object GraftInsertCommand {

  /** Align the query's output to `target`: positional rename +
    * cast without a column list; listed-columns + DEFAULT/NULL fill
    * with one. Default expressions come from the DECLARED schema's
    * column metadata (Spark's `CURRENT_DEFAULT` key — parquet-read
    * live schemas do not carry it). */
  private def alignTo(table: String, entry: GraftSqlTables.Entry,
                      insertCols: Option[Seq[String]], src: DataFrame,
                      target: org.apache.spark.sql.types.StructType)
    : DataFrame = insertCols match {
    case None =>
      require(src.columns.length == target.length,
        s"INSERT into $table: query produces ${src.columns.length} " +
          s"column(s), table has ${target.length} " +
          s"(${target.fieldNames.mkString(", ")})")
      target.fields.foldLeft(
        src.toDF(target.fieldNames.toIndexedSeq: _*)) { (df, f) =>
        df.withColumn(f.name, col(f.name).cast(f.dataType))
      }
    case Some(listed) =>
      listed.foreach(c => require(
        target.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"INSERT into $table: listed column '$c' is not a table column " +
          s"(${target.fieldNames.mkString(", ")})"))
      val gens = GraftSqlTables.generatedCols(entry)
      listed.foreach(c => require(
        !gens.exists(_._1.equalsIgnoreCase(c)),
        s"INSERT into $table: column '$c' is GENERATED ALWAYS AS — it " +
          "cannot be inserted; it computes from its expression"))
      val dup = listed.map(_.toLowerCase(java.util.Locale.ROOT))
        .groupBy(identity).collect { case (c, vs) if vs.size > 1 => c }
      require(dup.isEmpty,
        s"INSERT into $table: column listed twice: ${dup.mkString(", ")}")
      require(src.columns.length == listed.length,
        s"INSERT into $table: query produces ${src.columns.length} " +
          s"column(s), the column list names ${listed.length}")
      val renamed = src.toDF(listed.toIndexedSeq: _*)
      // base projection first (listed / defaulted / NULL), generated
      // columns then compute over the resolved base values
      val base = renamed.select(target.fields.map { f =>
        if (listed.exists(_.equalsIgnoreCase(f.name)))
          col(f.name).cast(f.dataType).as(f.name)
        else if (gens.exists(_._1.equalsIgnoreCase(f.name)))
          org.apache.spark.sql.functions.lit(null)
            .cast(f.dataType).as(f.name)
        else
          GraftSqlTables.defaultFor(entry, f.name)
            .map(sql => expr(sql).cast(f.dataType).as(f.name))
            .getOrElse(org.apache.spark.sql.functions.lit(null)
              .cast(f.dataType).as(f.name))
      }.toIndexedSeq: _*)
      gens.foldLeft(base) { case (df, (c, g)) =>
        val f = target.fields.find(_.name.equalsIgnoreCase(c)).get
        df.withColumn(f.name, expr(g).cast(f.dataType))
      }
  }

  /** IDENTITY handling for one insert batch: an explicit value for a
    * GENERATED ALWAYS column refuses (BY DEFAULT accepts it); omitted
    * columns allocate `start + step·(batchId·2³³ + rowIdx)` — unique
    * and direction-monotonic with no coordination beyond the manifest
    * CAS the write already performs ([[graft.ops.Ids.fillIdentity]]). */
  private def applyIdentity(table: String, entry: GraftSqlTables.Entry,
                            insertCols: Option[Seq[String]],
                            aligned: DataFrame, batchId: Int): DataFrame = {
    val idents = GraftSqlTables.identityCols(entry)
    if (idents.isEmpty) return aligned
    def provided(c: String) =
      insertCols.forall(_.exists(_.equalsIgnoreCase(c)))
    idents.foldLeft(aligned) { case (df, (c, spec)) =>
      if (provided(c)) {
        require(spec.isAllowExplicitInsert,
          s"INSERT into $table: column '$c' is GENERATED ALWAYS AS " +
            "IDENTITY — omit it from an explicit column list and the " +
            "engine allocates (GENERATED BY DEFAULT accepts explicit " +
            "values)")
        graft.ops.Ids.guardNoNullIdentity(table, df, c)
      } else
        graft.ops.Ids.fillIdentity(df, c, spec.getStart, spec.getStep,
          batchId.toLong)
    }
  }

  private[plans] def write(spark: SparkSession, table: String,
                           entry: GraftSqlTables.Entry, src: DataFrame,
                           insertCols: Option[Seq[String]],
                           overwrite: Boolean,
                           explicitBatchId: Option[Int] = None,
                           beforeCommit: Int => Unit = _ => ()): Unit = {
    def alignTo(src: DataFrame,
                target: org.apache.spark.sql.types.StructType): DataFrame =
      GraftInsertCommand.alignTo(table, entry, insertCols, src, target)
    val man = new TxnManifest(entry.manifestPath)
    val ids = man.committed().keySet
    val batchId = explicitBatchId.getOrElse(
      if (ids.isEmpty) 0 else ids.max + 1)
    require(!(overwrite && entry.isClone),
      s"INSERT OVERWRITE on shallow clone $table is not supported — " +
        "the overwrite would un-name only the clone's own dirs and " +
        "leave inherited source dirs visible; DELETE then INSERT, or " +
        "materialize the clone first (compaction)")
    val existing =
      if (entry.isClone) man.committedDirsAll()
      else man.committedDirs(entry.root)
    // a columnMapping table aligns to the LOG's logical schema (the
    // authority across renames/adds/drops) and physicalizes just
    // before the files
    entry.schemaLogPath.map(new graft.sources.SchemaLog(_)) match {
      case Some(log) =>
        val (_, cols) = log.current()
        val target = org.apache.spark.sql.types.StructType(cols.map(c =>
          org.apache.spark.sql.types.StructField(c.logical, c.dataType)))
        val aligned = applyIdentity(table, entry, insertCols,
          alignTo(src, target), batchId)
        graft.sources.CheckConstraints.enforce(table,
          GraftSqlTables.writeChecks(entry), aligned, "INSERT into")
        val physical = aligned.select(cols.map(c =>
          col(c.logical).as(c.physical)).toIndexedSeq: _*)
        // bucketed + mapped: route on the PHYSICAL key names (same
        // values, so the same murmur3 routing the scan reports under
        // the logical names) — markers record physical identity
        val physBucket =
          entry.bucketBy.map(graft.sources.Bucketing.physical(_, cols))
        if (overwrite) {
          beforeCommit(batchId)
          Sinks.insertOverwrite(spark, physical, entry.root, man, batchId,
            bucketBy = physBucket)
        } else {
          val framed = physBucket.fold(physical)(b =>
            graft.sources.Bucketing.routed(physical, b))
          // stats AND bloom sidecars carry PHYSICAL names; the mapped
          // scan and the (already-physical) merge probes translate to
          // match, so data skipping and point-lookup pruning hold on
          // mapped tables too — and survive renames, since physical
          // names never move
          val toPhys = cols.map(c => c.logical.toLowerCase -> c.physical)
            .toMap
          graft.sources.StatsSinks.appendBatchStats(framed, entry.root,
            batchId, bloomColumns = entry.bloomColumns
              .flatMap(c => toPhys.get(c.toLowerCase)))
          physBucket.foreach(b => graft.sources.Bucketing
            .writeMarkerWithFiles(spark, s"${entry.root}/batch=$batchId", b))
          beforeCommit(batchId)
          man.commit(batchId, Seq(s"${entry.root}/batch=$batchId"))
        }
        return
      case None =>
    }
    val aligned0 =
      if (existing.nonEmpty)
        alignTo(src, GraftDml.committedRead(spark, entry, man).schema)
      else entry.schemaJson match {
        // bootstrap: the first insert DEFINES the schema — unless the
        // registration DECLARED one (catalog tables)
        case None =>
          require(insertCols.isEmpty,
            s"INSERT into $table: a column list needs a declared or " +
              "live schema to fill the unlisted columns")
          src
        case Some(json) =>
          alignTo(src, org.apache.spark.sql.types.DataType.fromJson(json)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
      }
    val aligned = applyIdentity(table, entry, insertCols, aligned0, batchId)
    graft.sources.CheckConstraints.enforce(table,
      GraftSqlTables.writeChecks(entry), aligned, "INSERT into")
    entry.bucketBy match {
      case Some(b) =>
        // bucketed layout: repartition routes each row to its bucket
        // (HashPartitioning = pmod(murmur3_42, n) — the function the
        // scan reports), each task writes exactly one bucket, and the
        // part-file index in the name IS the bucket id the scan
        // groups on. Explicit numPartitions keeps AQE from coalescing
        // the 1:1 partition↔bucket mapping away.
        if (overwrite) {
          beforeCommit(batchId)
          Sinks.insertOverwrite(spark, aligned, entry.root, man, batchId,
            bucketBy = Some(b))
          return
        }
        val framed = graft.sources.Bucketing.routed(aligned, b)
        graft.sources.StatsSinks.appendBatchStats(framed, entry.root,
          batchId, bloomColumns = entry.bloomColumns)
        graft.sources.Bucketing.writeMarkerWithFiles(spark,
          s"${entry.root}/batch=$batchId", b)
        beforeCommit(batchId)
        man.commit(batchId, Seq(s"${entry.root}/batch=$batchId"))
      case None if overwrite =>
        beforeCommit(batchId)
        Sinks.insertOverwrite(spark, aligned, entry.root, man, batchId)
      case None =>
        graft.sources.StatsSinks.appendBatchStats(aligned, entry.root,
          batchId, bloomColumns = entry.bloomColumns)
        beforeCommit(batchId)
        man.commit(batchId, Seq(s"${entry.root}/batch=$batchId"))
    }
  }
}

/** `COPY INTO <tbl> FROM '<loc>' FILEFORMAT = PARQUET|CSV|JSON
  * [PATTERN = '<glob>'] [FORMAT_OPTIONS ('header' = 'true', ...)]
  * [COPY_OPTIONS ('force' = 'true')]` — Delta's idempotent
  * bulk-ingest verb: each listed source file loads AT MOST ONCE
  * across re-runs of the statement ([[graft.sources.CopyLog]] tracks
  * the loaded set, keyed to committed manifest history), so an
  * hourly `COPY INTO` over a landing directory ingests exactly the
  * new files. `FORCE` ignores the tracking and appends everything
  * listed (Delta's escape hatch); tracking survives TRUNCATE /
  * compaction / RESTORE, per Delta's rule.
  *
  * The data path is [[GraftInsertCommand.write]] — the same schema
  * alignment (by NAME: file columns must all be table columns;
  * missing ones fill DEFAULT/NULL; generated columns compute), CHECK
  * enforcement, mapped-table physicalization, stats/bloom sidecars,
  * and one-CAS commit as statement INSERT — with the tracking entry
  * written in the `beforeCommit` window so a crash can never mark
  * files loaded without their rows being visible.
  *
  * Scale shape (100 TB): the listing is one driver-side glob; the
  * parquet row count comes from FOOTER metadata (no counting pass
  * over data); the read plans one scan over exactly the fresh files.
  * CSV/JSON parse against the table's DECLARED schema (inference
  * would make two COPYs of one dir parse differently) and pay one
  * extra parse pass for the row-count report.
  */
final case class GraftCopyIntoCommand(table: String,
                                      entry: GraftSqlTables.Entry,
                                      from: String,
                                      pattern: Option[String],
                                      fileFormat: String,
                                      force: Boolean,
                                      formatOptions: Map[String, String] =
                                        Map.empty)
  extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.LongType

  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("num_inserted_rows", LongType, nullable = false)(),
      AttributeReference("num_inserted_files", LongType, nullable = false)(),
      AttributeReference("num_skipped_files", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val fmt = fileFormat.toUpperCase(java.util.Locale.ROOT)
    require(Set("PARQUET", "CSV", "JSON")(fmt),
      s"COPY INTO $table: FILEFORMAT = $fileFormat is not supported — " +
        "PARQUET, CSV, or JSON")
    require(fmt != "PARQUET" || formatOptions.isEmpty,
      s"COPY INTO $table: FORMAT_OPTIONS apply to CSV/JSON sources " +
        "only — parquet files are self-describing")
    val hconf = spark.sessionState.newHadoopConf()
    val fromPath = new org.apache.hadoop.fs.Path(from)
    val fs = fromPath.getFileSystem(hconf)
    val listed: Seq[String] = {
      val base =
        if (fs.exists(fromPath) && fs.getFileStatus(fromPath).isFile)
          Array(fs.getFileStatus(fromPath))
        else {
          val glob = new org.apache.hadoop.fs.Path(fromPath,
            pattern.getOrElse("*"))
          Option(fs.globStatus(glob)).getOrElse(Array.empty)
        }
      base.filter(s => s.isFile && {
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }).map(_.getPath.toUri.getPath).sorted.toSeq
    }
    require(listed.nonEmpty || pattern.isDefined,
      s"COPY INTO $table: no files under $from — a COPY over an empty " +
        "landing dir is usually a path typo; use PATTERN to allow it")
    val man = new TxnManifest(entry.manifestPath)
    graft.sources.CopyLog.sweepStale(entry.root, man)
    val loaded =
      if (force) Set.empty[String]
      else graft.sources.CopyLog.loadedFiles(entry.root, man)
    val fresh = listed.filterNot(loaded)
    val skipped = (listed.size - fresh.size).toLong
    if (fresh.isEmpty) return Seq(Row(0L, 0L, skipped))
    // row count: parquet answers from FOOTER metadata (no data
    // pass); text formats have no row-count metadata, so the report
    // costs one extra parse pass — the ingest itself parses anyway
    val (src, nRows) = fmt match {
      case "PARQUET" =>
        (spark.read.parquet(fresh: _*), fresh.map { f =>
          val in = org.apache.hadoop.fs.Path.getPathWithoutSchemeAndAuthority(
            new org.apache.hadoop.fs.Path(f))
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(in, hconf))
          try reader.getRecordCount finally reader.close()
        }.sum)
      case _ =>
        // CSV/JSON carry no types: the read schema is the TABLE's
        // declared logical schema (never inference — two COPYs of
        // the same dir must parse identically), minus generated and
        // identity columns, which never come from landing files —
        // the write computes/allocates them via the listed-column
        // fill, exactly the parquet-without-them path
        val declared = entry.schemaLogPath match {
          case Some(p) => org.apache.spark.sql.types.StructType(
            new graft.sources.SchemaLog(p).current()._2.map(c =>
              org.apache.spark.sql.types.StructField(c.logical, c.dataType)))
          case None => entry.schemaJson
            .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
              .asInstanceOf[org.apache.spark.sql.types.StructType])
            .getOrElse(throw new IllegalArgumentException(
              s"COPY INTO $table: FILEFORMAT = $fmt needs a declared " +
                "table schema to parse against"))
        }
        val skip = (GraftSqlTables.generatedCols(entry).map(_._1) ++
          GraftSqlTables.identityCols(entry).map(_._1))
          .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        val readSchema = org.apache.spark.sql.types.StructType(
          declared.fields.filterNot(f =>
            skip(f.name.toLowerCase(java.util.Locale.ROOT))))
        val reader = spark.read.schema(readSchema).options(formatOptions)
        val df = if (fmt == "CSV") reader.csv(fresh: _*)
                 else reader.json(fresh: _*)
        (df, df.count())
    }
    val ever = graft.sources.CopyLog.everAdded(man)
    val batchId = graft.sources.CopyLog.nextBatchId(entry.root, man, ever)
    val hasSchema = entry.schemaJson.isDefined ||
      entry.schemaLogPath.isDefined || man.committedDirs(entry.root).nonEmpty
    GraftInsertCommand.write(spark, table, entry, src,
      insertCols = if (hasSchema) Some(src.columns.toSeq) else None,
      overwrite = false, explicitBatchId = Some(batchId),
      beforeCommit = id =>
        graft.sources.CopyLog.record(entry.root, id, fresh))
    Seq(Row(nRows, fresh.size.toLong, skipped))
  }
}

object GraftMaintenance {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.{LongType, StringType}

  private val Opt =
    """(?is)\s*OPTIMIZE\s+([\w.]+)\s*(?:ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*""".r
  private val Vac =
    """(?is)\s*VACUUM\s+([\w.]+)\s*(?:RETAIN\s+(\d+)\s+HOURS)?\s*(DRY\s+RUN)?\s*;?\s*""".r
  private val Hist = """(?is)\s*DESCRIBE\s+HISTORY\s+([\w.]+)\s*;?\s*""".r
  private val Detail = """(?is)\s*DESCRIBE\s+DETAIL\s+([\w.]+)\s*;?\s*""".r
  private val RestV =
    """(?is)\s*RESTORE\s+([\w.]+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val RestT =
    """(?is)\s*RESTORE\s+([\w.]+)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*""".r
  private val Ins =
    """(?is)\s*INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?([\w.]+)\s*(?:\(([\w\s,]+)\))?\s*((?:SELECT|VALUES|WITH|TABLE)\b.*)""".r
  private val Copy =
    """(?is)\s*COPY\s+INTO\s+([\w.]+)\s+FROM\s+'([^']+)'\s+FILEFORMAT\s*=\s*(\w+)\s*(?:PATTERN\s*=\s*'([^']+)'\s*)?(?:FORMAT_OPTIONS\s*\(([^)]*)\)\s*)?(?:COPY_OPTIONS\s*\(\s*'force'\s*=\s*'(true|false)'\s*\)\s*)?;?\s*""".r

  /** `FORMAT_OPTIONS ('k' = 'v', ...)` body → options map. */
  private[plans] def parseFormatOptions(body: String): Map[String, String] = {
    val Pair = """\s*'([^']+)'\s*=\s*'([^']*)'\s*""".r
    if (body == null || body.trim.isEmpty) Map.empty
    else body.split(',').map {
      case Pair(k, v) => k -> v
      case other => throw new IllegalArgumentException(
        s"FORMAT_OPTIONS entry \"$other\" is not 'key' = 'value'")
    }.toMap
  }
  private val CloneRe =
    """(?is)\s*CREATE\s+TABLE\s+([\w.]+)\s+SHALLOW\s+CLONE\s+([\w.]+)\s*(?:VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+'([^']+)')?\s*;?\s*""".r
  private val MvCreate =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?:(IF\s+NOT\s+EXISTS)\s+)?([\w.]+)\s+LOCATION\s+'([^']+)'\s+(?:BUCKETED\s+BY\s*\(\s*(\d+)\s*\)\s+)?(?:MAX_STALENESS\s+INTERVAL\s+'(\d+)'\s+(SECONDS?|MINUTES?|HOURS?)\s+)?AS\s+(SELECT\b.+?)\s*;?\s*""".r
  private val MvAlterStaleness =
    """(?is)\s*ALTER\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s+(?:SET\s+MAX_STALENESS\s+INTERVAL\s+'(\d+)'\s+(SECONDS?|MINUTES?|HOURS?)|(CLEAR)\s+MAX_STALENESS)\s*;?\s*""".r
  private def stalenessMs(n: String, unit: String): Long = {
    val u = unit.toLowerCase(java.util.Locale.ROOT)
    val mult = if (u.startsWith("second")) 1000L
      else if (u.startsWith("minute")) 60000L else 3600000L
    n.toLong * mult
  }
  private val MvRefresh =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.]+)(\s+FULL)?\s*;?\s*""".r
  private val MvDrop =
    """(?is)\s*DROP\s+MATERIALIZED\s+VIEW\s+(?:(IF\s+EXISTS)\s+)?([\w.]+)\s*;?\s*""".r
  private val MvShow =
    """(?is)\s*SHOW\s+MATERIALIZED\s+VIEWS\s*;?\s*""".r
  private val MvRefreshAll =
    """(?is)\s*REFRESH\s+ALL\s+MATERIALIZED\s+VIEWS(\s+WITHIN\s+STALENESS)?\s*;?\s*""".r
  private val MvDescribe =
    """(?is)\s*DESCRIBE\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s*;?\s*""".r
  private val MvOptimize =
    """(?is)\s*OPTIMIZE\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s*;?\s*""".r
  private val MvVacuum =
    """(?is)\s*VACUUM\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s*(?:RETAIN\s+(\d+)\s+HOURS)?\s*(DRY\s+RUN)?\s*;?\s*""".r

  /** Recognize a maintenance statement on a REGISTERED table; None
    * otherwise (the caller delegates to Spark's parser). */
  def parse(sqlText: String): Option[LogicalPlan] = {
    def entryOf(name: String) = GraftSqlTables.lookup(Seq(name))
    sqlText match {
      case Opt(name, zcols) => entryOf(name).map(e =>
        GraftOptimizeCommand(name, e,
          Option(zcols).toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)))
      case Vac(name, hours, dry) => entryOf(name).map(e =>
        GraftVacuumCommand(name, e,
          Option(hours).map(_.toLong * 3600 * 1000),
          dryRun = dry != null))
      case Hist(name) => entryOf(name).map(e => GraftHistoryCommand(name, e))
      case Detail(name) => entryOf(name).map(e => GraftDetailCommand(name, e))
      case RestV(name, v) => entryOf(name).map(e =>
        GraftRestoreCommand(name, e, Left(v.toLong)))
      case RestT(name, ts) => entryOf(name).map(e =>
        GraftRestoreCommand(name, e, Right(parseTs(ts))))
      case Copy(name, from, fmt, pat, fmtOpts, force) => entryOf(name).map(e =>
        GraftCopyIntoCommand(name, e, from, Option(pat), fmt,
          force = Option(force).exists(_.equalsIgnoreCase("true")),
          formatOptions = parseFormatOptions(fmtOpts)))
      case MvCreate(ifNot, name, loc, buckets, staleN, staleU, select) =>
        // validate the SELECT shape NOW — a refused aggregate must
        // surface at statement parse, not mid-create
        GraftMvs.parseSelect(select)
        Some(GraftMvCreateCommand(name, loc, select,
          Option(buckets).map(_.toInt), ifNotExists = ifNot != null,
          maxStalenessMs = Option(staleN).map(stalenessMs(_, staleU))))
      case MvAlterStaleness(name, staleN, staleU, clear) =>
        Some(GraftMvAlterStalenessCommand(name,
          if (clear != null) None
          else Some(stalenessMs(staleN, staleU))))
      case MvRefreshAll(within) =>
        Some(GraftMvRefreshAllCommand(withinStaleness = within != null))
      case MvRefresh(name, full) =>
        Some(GraftMvRefreshCommand(name, full != null))
      case MvDrop(ifEx, name) =>
        Some(GraftMvDropCommand(name, ifExists = ifEx != null))
      case MvShow() => Some(GraftMvShowCommand())
      case MvDescribe(name) => Some(GraftMvDescribeCommand(name))
      case MvOptimize(name) => Some(GraftMvOptimizeCommand(name))
      case MvVacuum(name, hours, dry) => Some(GraftMvVacuumCommand(name,
        Option(hours).map(_.toLong * 3600 * 1000), dryRun = dry != null))
      case CloneRe(dst, src, ver, ts) => entryOf(src).map(e =>
        GraftCloneCommand(dst, src, e,
          asOfVersion = Option(ver).map(_.toLong),
          asOfTsMillis = Option(ts).map(parseTs)))
      case Ins(mode, name, colList, select) => entryOf(name).map { e =>
        // validate the source query NOW — a syntax error must surface
        // at statement parse, not at execution
        CatalystSqlParser.parsePlan(select)
        GraftInsertCommand(name, e, select,
          overwrite = mode.equalsIgnoreCase("OVERWRITE"),
          insertCols = Option(colList).map(_.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq))
      }
      case _ => None
    }
  }

  /** Epoch millis, or a UTC wall time `yyyy-MM-dd[ HH:mm:ss]` — the
    * same forms the DSv2 `timestampAsOf` option takes. */
  def parseTs(s: String): Long =
    s.toLongOption.getOrElse {
      val t = if (s.contains(" ") || s.contains("T"))
        java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      else java.time.LocalDate.parse(s).atStartOfDay()
      t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }

  private[plans] def historyOutput: Seq[AttributeReference] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("timestamp_ms", LongType, nullable = true)(),
    AttributeReference("added", StringType, nullable = false)(),
    AttributeReference("removed", StringType, nullable = false)())
}

/** `CREATE TABLE <cat>.<t> SHALLOW CLONE <src>` — Delta's zero-copy
  * fork as SQL text. The destination must live in a [[GraftCatalog]]
  * (the clone needs persisted metadata + a managed root); the source
  * is any resolvable graft table. See
  * [[GraftCatalog.createShallowClone]] for the contract. */
final case class GraftCloneCommand(dst: String, srcName: String,
                                   src: GraftSqlTables.Entry,
                                   asOfVersion: Option[Long] = None,
                                   asOfTsMillis: Option[Long] = None)
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val parts = dst.split('.')
    require(parts.length == 2,
      s"SHALLOW CLONE destination must be <catalog>.<table>, got '$dst'")
    val cat = try spark.sessionState.catalogManager.catalog(parts(0)) catch {
      case scala.util.control.NonFatal(_) =>
        throw new IllegalArgumentException(
          s"SHALLOW CLONE: '$dst' names no registered catalog " +
            s"'${parts(0)}' — configure spark.sql.catalog.${parts(0)}")
    }
    val gcat = cat match {
      case g: GraftCatalog => g
      case other => throw new IllegalArgumentException(
        s"SHALLOW CLONE destination catalog '${parts(0)}' is " +
          s"${other.getClass.getName}, not a GraftCatalog")
    }
    val man = new TxnManifest(src.manifestPath)
    // TIMESTAMP AS OF resolves to a manifest version against the same
    // commit clock the DSv2 option and RESTORE use
    val version = asOfVersion.orElse(asOfTsMillis.map(man.versionAt))
    def declaredSchema =
      src.schemaJson.map(j => org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
        .getOrElse(throw new IllegalStateException(
          s"SHALLOW CLONE: source $srcName has no committed data and " +
            "no declared schema — nothing to clone"))
    val srcSchema = version match {
      case Some(v) =>
        // the snapshot clone serves the HISTORICAL schema: inferred
        // over the dirs that version named (travelTable's rule)
        val dirs = man.stateAt(v).toSeq.sortBy(_._1).flatMap(_._2)
          .filter(_.startsWith(src.root + "/"))
        if (dirs.isEmpty) declaredSchema
        else {
          val (dataDirs, _) = graft.sources.Sinks.splitDv(dirs)
          spark.read.option("mergeSchema", true).parquet(dataDirs: _*).schema
        }
      case None =>
        if (man.committedDirsAll().isEmpty) declaredSchema
        else GraftDml.committedRead(spark, src, man).schema
    }
    gcat.createShallowClone(
      org.apache.spark.sql.connector.catalog.Identifier
        .of(Array.empty, parts(1)),
      src, srcSchema, asOfVersion = version)
    Seq.empty
  }
}

final case class GraftOptimizeCommand(table: String,
                                      entry: GraftSqlTables.Entry,
                                      zorderCols: Seq[String])
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (entry.isClone) { materializeClone(spark); return Seq.empty }
    // bucketed tables compact through the BUCKET-PRESERVING rewrite:
    // same repartition routing as every bucketed write, one file per
    // bucket, marker carried — SPJ survives, and a foreign batch is
    // healed back into the layout. ZORDER refuses (a z-order sort
    // would destroy the bucket routing).
    entry.bucketBy.foreach { b =>
      val man2 = new TxnManifest(entry.manifestPath)
      val ids2 = man2.committed().keySet
      require(ids2.nonEmpty,
        s"OPTIMIZE $table: nothing committed yet — the table is empty")
      // mapped tables compact under physical names: the rewrite reads
      // with the explicit physical schema and routes on the physical
      // key twins (what the markers record)
      val (bPhys, physSchema2, toPhys) = entry.schemaLogPath match {
        case None => (b, None, identity[String] _)
        case Some(p) =>
          val cols = new graft.sources.SchemaLog(p).current()._2
          val f = (k: String) =>
            cols.find(_.logical.equalsIgnoreCase(k)).map(_.physical)
              .getOrElse(throw new IllegalArgumentException(
                s"OPTIMIZE $table: column '$k' is not in the " +
                  "table's column mapping"))
          (graft.sources.Bucketing.physical(b, cols),
            Some(graft.sources.SchemaLog.physicalSchema(cols)), f)
      }
      // ZORDER BY (or declared clusterBy) on a bucketed table sorts
      // WITHIN each bucket: the routing is untouchable (a range sort
      // would destroy it) but per-bucket clustering is free — row
      // groups and per-file bounds tighten on the z-columns while
      // SPJ keeps planning exchange-free
      val zCols = (if (zorderCols.nonEmpty) zorderCols else entry.clusterBy)
        .map(c => col(toPhys(c)))
      // INCREMENTAL: generations stamped under the same spec + sort
      // stay byte-untouched — nightly OPTIMIZE costs O(new data)
      Sinks.compactBucketedIncremental(spark, entry.root, man2,
        ids2.max + 1, bPhys, physSchema = physSchema2, zorderCols = zCols)
      return Seq.empty
    }
    val man = new TxnManifest(entry.manifestPath)
    val ids = man.committed().keySet
    require(ids.nonEmpty,
      s"OPTIMIZE $table: nothing committed yet — the table is empty")
    val compactId = ids.max + 1
    // ~128 MB target files (Delta's OPTIMIZE default) from the live
    // byte sum — a driver-side listing, no Spark job
    val conf = spark.sparkContext.hadoopConfiguration
    val bytes = man.committedDirs(entry.root)
      .filterNot(Sinks.isDvDir).map { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        val fs = p.getFileSystem(conf)
        if (!fs.exists(p)) 0L
        else fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
      }.sum
    val numFiles = math.max(1, (bytes / (128L * 1024 * 1024)).toInt)
    // a bare OPTIMIZE on a table declared `clusterBy` maintains that
    // z-order (Delta's liquid-clustering UX); an explicit ZORDER BY
    // clause overrides per statement
    val effective = if (zorderCols.nonEmpty) zorderCols else entry.clusterBy
    // a columnMapping table's files carry physical names — the
    // statement's ZORDER columns are logical, translated through the
    // same snapshot rule DML uses
    val physCols = entry.schemaLogPath match {
      case None => effective
      case Some(p) =>
        val cols = new graft.sources.SchemaLog(p).current()._2
        effective.map(c =>
          cols.find(_.logical.equalsIgnoreCase(c)).map(_.physical)
            .getOrElse(throw new IllegalArgumentException(
              s"OPTIMIZE $table: ZORDER column '$c' is not in the " +
                s"table's column mapping " +
                s"(have: ${cols.map(_.logical).mkString(", ")})")))
    }
    val physSchema = entry.schemaLogPath.map(p =>
      graft.sources.SchemaLog.physicalSchema(
        new graft.sources.SchemaLog(p).current()._2))
    if (physCols.isEmpty)
      Sinks.compact(spark, entry.root, man, compactId, numFiles,
        physSchema = physSchema)
    else
      Sinks.compactZOrderedIncremental(spark, entry.root, man, compactId,
        physCols.map(col), numFiles, physSchema = physSchema)
    Seq.empty
  }

  /** `OPTIMIZE` on a SHALLOW CLONE = MATERIALIZATION: the union view
    * (inherited source dirs + own divergence) rewrites as compacted
    * files under the clone's OWN root, one atomic commit un-names
    * every entry across all roots, and the table stops being a clone
    * (the catalog flag flips) — ending the shared-fate hazard with
    * the source's vacuum and unlocking the root-scoped verbs
    * (TRUNCATE, time travel forward of here, ZORDER on the next
    * OPTIMIZE). ZORDER BY in the same statement is refused: z-order
    * the materialized table with a second OPTIMIZE. */
  private def materializeClone(spark: SparkSession): Unit = {
    require(zorderCols.isEmpty,
      s"OPTIMIZE $table: ZORDER BY on a shallow clone is not supported " +
        "in one step — a bare OPTIMIZE materializes it first, then " +
        "OPTIMIZE ZORDER BY orders the materialized table")
    val man = new TxnManifest(entry.manifestPath)
    val all = man.committedDirsAll()
    require(all.nonEmpty,
      s"OPTIMIZE $table: nothing committed yet — the clone is empty")
    val materializeId = man.committed().keySet.max + 1
    val conf = spark.sparkContext.hadoopConfiguration
    val bytes = all.filterNot(Sinks.isDvDir).map { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) 0L
      else fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
    }.sum
    val numFiles = math.max(1, (bytes / (128L * 1024 * 1024)).toInt)
    val target = s"${entry.root}/batch=$materializeId"
    // readCommittedUnion applies inherited deletion vectors, so the
    // materialized files carry the POST-delete rows and the DV dirs
    // drop with the old entries. A BUCKETED clone materializes
    // through the bucket routing (+ marker) so SPJ survives the
    // flip from clone to plain table.
    val unionAll = Sinks.readCommittedUnion(spark, man)
    entry.bucketBy match {
      case Some(b) =>
        graft.sources.Bucketing.routed(unionAll, b).write.parquet(target)
        graft.sources.BatchStats.writeSidecar(spark, target)
        graft.sources.Bucketing.writeMarkerWithFiles(spark, target, b)
      case None =>
        unionAll.repartition(numFiles).write.parquet(target)
        graft.sources.BatchStats.writeSidecar(spark, target)
    }
    man.replaceEverything(materializeId, Seq(target))
    // flip the clone flag where the table's metadata lives
    table.split('.') match {
      case Array(cat, name) =>
        (try Some(spark.sessionState.catalogManager.catalog(cat))
        catch { case scala.util.control.NonFatal(_) => None }) match {
          case Some(g: GraftCatalog) => g.markMaterialized(name)
          case _ => GraftSqlTables.register(table,
              entry.copy(isClone = false))
        }
      case _ => GraftSqlTables.register(table, entry.copy(isClone = false))
    }
  }
}

final case class GraftVacuumCommand(table: String,
                                    entry: GraftSqlTables.Entry,
                                    retainMillis: Option[Long],
                                    dryRun: Boolean = false)
  extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("deleted", org.apache.spark.sql.types.StringType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val man = new TxnManifest(entry.manifestPath)
    // DRY RUN (Delta's): report what a real vacuum would reclaim,
    // delete nothing — the operator's pre-flight on a shared table
    Sinks.vacuum(entry.root, man,
      retainMillis.getOrElse(7L * 24 * 3600 * 1000),
      dryRun = dryRun).map(Row(_))
  }
}

/** `DESCRIBE DETAIL <t>` — Delta's table-inspection verb at BATCH
  * granularity ([[Sinks.describeDetail]]): one row per committed dir
  * with file/byte counts (driver-side listing, no Spark job) and
  * which data-skipping surfaces cover it (value/null stats, bloom
  * columns, DV flag) — "is the thing I filter on actually indexed,
  * and which batches aren't?" */
final case class GraftDetailCommand(table: String,
                                    entry: GraftSqlTables.Entry)
  extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.{BooleanType, LongType, StringType}
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("batch_id", LongType, nullable = false)(),
      AttributeReference("dir", StringType, nullable = false)(),
      AttributeReference("version", LongType, nullable = false)(),
      AttributeReference("num_files", LongType, nullable = false)(),
      AttributeReference("size_bytes", LongType, nullable = false)(),
      AttributeReference("value_stats", BooleanType, nullable = false)(),
      AttributeReference("null_stats", BooleanType, nullable = false)(),
      AttributeReference("bloom_columns", StringType, nullable = false)(),
      AttributeReference("is_dv", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val man = new TxnManifest(entry.manifestPath)
    Sinks.describeDetail(spark, entry.root, man, allRoots = entry.isClone)
      .collect().toSeq.map { r =>
      Row(r.getInt(0).toLong, r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5), r.getBoolean(6),
        r.getSeq[String](7).mkString(","), r.getBoolean(8))
    }
  }
}

final case class GraftHistoryCommand(table: String,
                                     entry: GraftSqlTables.Entry)
  extends LeafRunnableCommand {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    GraftMaintenance.historyOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val man = new TxnManifest(entry.manifestPath)
    val clocks = man.commitTimestamps().toMap
    man.history().map(ch => Row(ch.version, clocks.get(ch.version).orNull,
      ch.added.mkString(","), ch.removed.mkString(",")))
  }
}

final case class GraftRestoreCommand(table: String,
                                     entry: GraftSqlTables.Entry,
                                     target: Either[Long, Long])
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val man = new TxnManifest(entry.manifestPath)
    val version = target match {
      case Left(v)   => v
      case Right(ts) => man.versionAt(ts)
    }
    man.restoreTo(version)
    Seq.empty
  }
}

/** Parser injected by [[GraftExtensions]]: delegates EVERYTHING to
  * Spark's parser, then claims only DML plans whose target is a
  * registered graft table. All other statements — including DML on
  * unregistered names — return byte-identical plans. */
final class GraftSqlParser(delegate: ParserInterface)
  extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    // maintenance verbs first: Spark has no grammar for them, and the
    // guard (registered table name) keeps everything else delegated
    GraftMaintenance.parse(sqlText).getOrElse {
      val plan = delegate.parsePlan(sqlText)
      GraftDml.translate(plan).map(GraftDmlCommand).getOrElse {
        // table_changes substitutes at parse time — analysis rejects
        // an unknown TVF before any injected resolution rule runs.
        // Then the MV rewrite: serve a matching aggregate from a
        // fresh materialized view, and resolve FROM references to
        // registered views/tables the vanilla catalog can't.
        org.apache.spark.sql.SparkSession.getActiveSession.map { s =>
          val p0 = TableChangesSubstitution(s, plan)
          MvRewrite(s, p0).getOrElse(p0)
        }.getOrElse(plan)
      }
    }
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String)
    : org.apache.spark.sql.catalyst.TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String)
    : org.apache.spark.sql.catalyst.FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String)
    : org.apache.spark.sql.types.StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String)
    : org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String)
    : org.apache.spark.sql.types.StructType =
    delegate.parseTableSchema(sqlText)
}

/** Delta's `table_changes` table-valued function over graft tables —
  * the SQL-text face of the change data feed:
  * {{{
  *   SELECT * FROM table_changes('<table>', <fromBatch> [, <toBatch>])
  * }}}
  * Batch ids are INCLUSIVE on both ends (Delta's startingVersion/
  * endingVersion contract); the rows carry the data columns plus
  * `_change_type` / `_commit_batch` exactly like the DSv2
  * `changeFeed` read (it IS that read — the TVF resolves to the same
  * scan, so pruning, DV handling, the collapsed-history loud failure,
  * and schemaLog-mapped current-name serving all apply). Composable
  * anywhere a table is ([[TableChangesRule]] on extension sessions,
  * [[GraftSql.execute]] elsewhere): joins, filters, aggregates over
  * the feed all plan normally. An UNREGISTERED name is left for
  * Spark's own resolution error; non-literal arguments fail loudly. */
object TableChanges {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
  import org.apache.spark.sql.catalyst.expressions.Literal

  /** The CDF read for `table_changes(name, from[, to])`. */
  def dataFrame(spark: SparkSession, table: String, from: Int,
                to: Option[Int]): DataFrame = {
    val entry = GraftSqlTables.lookup(table.split('.').toSeq).getOrElse(
      throw new IllegalArgumentException(
        s"table_changes: '$table' is not a registered graft table " +
          "(register it, or address it through a graft catalog)"))
    var r = spark.read.format("graft-manifest")
      .option("manifest", entry.manifestPath)
      .option("changeFeed", "true")
      // the DSv2 option is an EXCLUSIVE lower bound; the TVF argument
      // is inclusive, Delta's startingVersion shape
      .option("startingBatchId", (from - 1).toString)
    to.foreach(t => r = r.option("endingBatchId", t.toString))
    entry.schemaLogPath.foreach(p => r = r.option("schemaLog", p))
    r.load(entry.root)
  }

  /** True when this TVF node is ours to resolve: the right name AND a
    * literal first argument naming a registered table. Anything else
    * stays Spark's (its own unresolved-TVF error names the function). */
  private[plans] def claims(u: UnresolvedTableValuedFunction): Boolean =
    u.name.length == 1 &&
      u.name.head.equalsIgnoreCase("table_changes") &&
      (u.functionArgs.headOption match {
        case Some(Literal(v, org.apache.spark.sql.types.StringType)) =>
          GraftSqlTables.lookup(v.toString.split('.').toSeq).isDefined
        case _ => false
      })

  private[plans] def resolve(spark: SparkSession,
                             u: UnresolvedTableValuedFunction): LogicalPlan = {
    val args = u.functionArgs
    require(args.length == 2 || args.length == 3,
      s"table_changes('<table>', <fromBatch> [, <toBatch>]) takes 2 or 3 " +
        s"arguments, got ${args.length}")
    def intArg(i: Int): Int = args(i) match {
      case Literal(v: Int, _)  => v
      case Literal(v: Long, _) => v.toInt
      case e => throw new IllegalArgumentException(
        s"table_changes: argument ${i + 1} must be an integer literal, " +
          s"got ${e.sql}")
    }
    val table = args.head.asInstanceOf[Literal].value.toString
    dataFrame(spark, table, intArg(1),
      if (args.length == 3) Some(intArg(2)) else None)
      .queryExecution.analyzed
  }
}

/** Parse-time substitution of [[TableChanges]]'s TVF — it must happen
  * BEFORE analysis (Spark's ResolveFunctions fails an unknown TVF
  * hard, so an injected resolution rule never sees the node): the
  * injected parser and [[GraftSql.execute]] both run this transform
  * on the freshly-parsed tree. */
object TableChangesSubstitution {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
  def apply(spark: SparkSession, plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case u: UnresolvedTableValuedFunction if TableChanges.claims(u) =>
        TableChanges.resolve(spark, u)
    }
}

/** Runtime SQL DML for sessions built WITHOUT the static extensions
  * conf (the injected parser is the first-class path). Uses Spark's
  * Catalyst parser, so the accepted grammar is identical. */
object GraftSql {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction

  /** Execute one statement. DML on a registered graft table routes
    * to the engine's merge; a query embedding [[TableChanges]]'s TVF
    * resolves it in place; anything else falls through to
    * `spark.sql` unchanged (and returns its result). */
  def execute(spark: SparkSession, sqlText: String): DataFrame =
    GraftMaintenance.parse(sqlText) match {
      case Some(cmd: LeafRunnableCommand) =>
        val rows = cmd.run(spark)
        if (cmd.output.isEmpty) spark.emptyDataFrame
        else spark.createDataFrame(
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava,
          org.apache.spark.sql.types.StructType(cmd.output.map(a =>
            org.apache.spark.sql.types.StructField(a.name, a.dataType,
              a.nullable))))
      case _ =>
        val parsed = CatalystSqlParser.parsePlan(sqlText)
        GraftDml.translate(parsed) match {
          case Some(spec) => GraftDml.run(spark, spec); spark.emptyDataFrame
          case None =>
            val hasTvf = parsed.collectFirst {
              case u: UnresolvedTableValuedFunction
                  if TableChanges.claims(u) => u
            }.isDefined
            val p0 =
              if (hasTvf) TableChangesSubstitution(spark, parsed) else parsed
            MvRewrite(spark, p0) match {
              case Some(rew) =>
                org.apache.spark.sql.graftbridge.PlanBridge.ofRows(spark, rew)
              case None =>
                if (!hasTvf) spark.sql(sqlText)
                else org.apache.spark.sql.graftbridge.PlanBridge
                  .ofRows(spark, p0)
            }
        }
    }
}
