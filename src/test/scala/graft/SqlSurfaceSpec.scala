package graft

import graft.expressions.{SimHash64, TopKStructs}
import graft.plans.GraftExtensions

/** The engine's SQL surface: the custom expressions must be reachable
  * from `spark.sql(...)`, both via `spark.sql.extensions`
  * ([[GraftExtensions]] — how a cluster deployment gets them) and via
  * the per-session `register` helpers (how a live session adds them).
  */
class SqlSurfaceSpec extends SparkSuite {

  /** The throwable and its whole cause chain. */
  private def exceptionChain(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
  import spark.implicits._

  // withExtensionSession lives in SparkSuite (shared with RangeRewriteSpec)

  test("GraftExtensions injects simhash64 + top_k into pure SQL") {
    withExtensionSession { s =>
      s.createDataFrame(Seq(
        (1L, "the quick brown fox", "a", 3.0),
        (2L, "the quick brown fox", "a", 1.0),
        (3L, "jumped over the dog", "a", 2.0),
        (4L, "something else here", "b", 5.0)
      )).toDF("id", "text", "g", "m").createOrReplaceTempView("docs")

      // simhash64 through SQL == the Column API expression
      val viaSql = s.sql("SELECT id, simhash64(text) AS h FROM docs")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaCol = s.table("docs")
        .select($"id", SimHash64.simhash64($"text").as("h"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaSql == viaCol)
      assert(viaSql(1L) == viaSql(2L)) // identical text, identical hash

      // top_k through SQL: top-2 by m desc per group, analyzer wraps
      // the bare aggregate exactly like a built-in
      val top = s.sql(
        """SELECT g, transform(top_k(struct(m, id), 2, true), x -> x.id) AS ids
          |FROM docs GROUP BY g ORDER BY g""".stripMargin)
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(top("a") == Seq(1L, 3L)) // m: 3.0, 2.0
      assert(top("b") == Seq(4L))

      // bad arity / non-literal k fail analysis loudly, not at runtime
      intercept[Exception](s.sql("SELECT top_k(struct(m)) FROM docs").collect())
      intercept[Exception](
        s.sql("SELECT top_k(struct(m), id) FROM docs GROUP BY g").collect())
    }
  }

  test("GraftExtensions injects the range-join rewrite (conf-gated)") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    withExtensionSession { s =>
      // parquet inputs: ConvertToLocalRelation would fold the plan
      val tmp = java.nio.file.Files.createTempDirectory("sql_rr_").toString
      s.range(0, 400, 5).selectExpr("id AS p").write.parquet(s"$tmp/p")
      s.range(0, 4).selectExpr("id AS iid", "id * 100 AS s", "id * 100 + 150 AS e")
        .write.parquet(s"$tmp/i")
      s.read.parquet(s"$tmp/p").createOrReplaceTempView("rrx_points")
      s.read.parquet(s"$tmp/i").createOrReplaceTempView("rrx_intervals")
      val sql = "SELECT p, iid FROM rrx_points JOIN rrx_intervals ON p >= s AND p < e"
      def loops(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.sparkPlan.collectWithSubqueries {
          case l: BroadcastNestedLoopJoinExec => l
          case c: CartesianProductExec => c
        }
      val naive = s.sql(sql).collect().map(_.toSeq).sortBy(_.toString)
      assert(loops(s.sql(sql)).nonEmpty) // conf unset → rule inert
      s.conf.set(graft.plans.RangeJoinRewrite.BinWidthConf, "100")
      try {
        val q = s.sql(sql)
        assert(loops(q).isEmpty,
          s"injected rule did not rewrite:\n${q.queryExecution.sparkPlan}")
        assert(q.collect().map(_.toSeq).sortBy(_.toString).sameElements(naive))
      } finally s.conf.unset(graft.plans.RangeJoinRewrite.BinWidthConf)
    }
  }

  test("schema_of_json infers the e7b nested document shape") {
    // the inference arm of the e7b read path: an inferred-schema STRING
    // has no DuckDB twin to hash against, so it is pinned here instead
    // of in the oracle. Inference on a representative doc yields the
    // exact struct e7b's from_json declares (modulo the corrupt-record
    // column, which is a parser policy, not document shape).
    val doc =
      """{"meta":{"k":7,"type":"click"},"items":[{"q":14},{"q":8}]}"""
    val inferred = spark.sql(
      s"SELECT schema_of_json('$doc') AS s").collect().head.getString(0)
    assert(inferred ==
      "STRUCT<items: ARRAY<STRUCT<q: BIGINT>>, meta: STRUCT<k: BIGINT, type: STRING>>")
    // and a from_json with the inferred schema round-trips the doc
    val rt = spark.sql(
      s"""SELECT to_json(from_json('$doc', schema_of_json('$doc'))) AS j""")
      .collect().head.getString(0)
    assert(rt == """{"items":[{"q":14},{"q":8}],"meta":{"k":7,"type":"click"}}""")
  }

  test("SQL MERGE INTO / DELETE FROM route to the manifest merge engine") {
    import graft.plans.{GraftSql, GraftSqlTables}
    import graft.sources.{Sinks, TxnManifest}
    import org.apache.spark.sql.functions.col
    withExtensionSession { s =>
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("sqldml_").toString
      val root = s"$tmp/t"
      val man = new TxnManifest(s"$tmp/_commits")
      Sinks.appendBatch(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
        .toDF("id", "v", "amt"), root, 0)
      man.commit(0, Seq(s"$root/batch=0"))
      GraftSqlTables.register("wm",
        GraftSqlTables.Entry(root, s"$tmp/_commits", keys = Seq("id")))
      // the reference's watermark MERGE shape (accounts.py:131-140):
      // update matched, insert unmatched — plus a conditional delete
      Seq((2L, "B2", 22.0, "U"), (3L, "x", 0.0, "D"), (9L, "i", 90.0, "U"))
        .toDF("id", "v", "amt", "op").createOrReplaceTempView("updates")
      s.sql(
        """MERGE INTO wm AS t USING updates AS src ON t.id = src.id
          |WHEN MATCHED AND src.op = 'D' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val afterMerge = Sinks.readCommitted(s, root, man)
        .select("id", "v", "amt").as[(Long, String, Double)].collect().sorted
      // 1 untouched, 2 updated, 3 deleted, 9 inserted. The op flag
      // rides only on the updates view: SET * / INSERT * resolve
      // against the TARGET's columns, so a source-only column never
      // evolves the table schema (Delta's projection rule; evolution
      // is the Entry.schemaEvolution opt-in)
      assert(afterMerge.toSeq == Seq((1L, "a", 10.0), (2L, "B2", 22.0),
        (9L, "i", 90.0)))
      assert(Sinks.readCommitted(s, root, man).columns.toSeq ==
        Seq("id", "v", "amt"), "source-only op column must not evolve schema")
      // DELETE FROM with a predicate over table columns
      s.sql("DELETE FROM wm WHERE amt > 15.0")
      assert(Sinks.readCommitted(s, root, man).select("id")
        .as[Long].collect().toSeq == Seq(1L))
      // unregistered targets pass through untouched → Spark's own error
      val e = intercept[Exception] {
        s.sql("MERGE INTO not_ours USING updates ON not_ours.id = updates.id " +
          "WHEN MATCHED THEN UPDATE SET *")
      }
      assert(e.getMessage.contains("not_ours"))
      // unsupported shape on a REGISTERED table fails loudly at parse
      val bad = intercept[IllegalArgumentException] {
        s.sql("MERGE INTO wm AS t USING updates AS s ON t.id > s.id " +
          "WHEN MATCHED THEN UPDATE SET *")
      }
      assert(bad.getMessage.contains("same-named"))
      GraftSqlTables.unregister("wm")
    }
    // GraftSql.execute: same grammar without the extensions conf —
    // MERGE arms that are UPDATE-only must NOT insert, INSERT-only
    // must NOT update
    val tmp2 = java.nio.file.Files.createTempDirectory("sqldml2_").toString
    val root2 = s"$tmp2/t"
    val man2 = new TxnManifest(s"$tmp2/_commits")
    Sinks.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root2, 0)
    man2.commit(0, Seq(s"$root2/batch=0"))
    GraftSqlTables.register("wm2",
      GraftSqlTables.Entry(root2, s"$tmp2/_commits", keys = Seq("id")))
    Seq((2L, "B"), (5L, "E")).toDF("id", "v")
      .createOrReplaceTempView("upd2")
    GraftSql.execute(spark,
      "MERGE INTO wm2 USING upd2 ON wm2.id = upd2.id " +
        "WHEN MATCHED THEN UPDATE SET v = upd2.v")
    assert(Sinks.readCommitted(spark, root2, man2).select("id", "v")
      .as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "B"))) // 5 NOT inserted
    GraftSql.execute(spark,
      "MERGE INTO wm2 USING upd2 ON wm2.id = upd2.id " +
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (upd2.id, upd2.v)")
    assert(Sinks.readCommitted(spark, root2, man2).select("id", "v")
      .as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "B"), (5L, "E"))) // 2 NOT re-updated
    // full-sync MERGE: NOT MATCHED BY SOURCE deletes target rows the
    // source no longer carries (1 survives only via upd2's id 2, 5)
    GraftSql.execute(spark,
      "MERGE INTO wm2 USING upd2 ON wm2.id = upd2.id " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT * " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    assert(Sinks.readCommitted(spark, root2, man2).select("id", "v")
      .as[(Long, String)].collect().sorted.toSeq ==
      Seq((2L, "B"), (5L, "E"))) // id 1 purged: absent from source
    // re-seed id 1 for the UPDATE assertions below
    GraftSql.execute(spark, "INSERT INTO wm2 VALUES (1, 'a')")
    // UPDATE: assignments are arbitrary expressions over the row;
    // unmatched rows stay untouched; key rewrites refused
    GraftSql.execute(spark,
      "UPDATE wm2 SET v = concat(v, '!') WHERE id < 3")
    assert(Sinks.readCommitted(spark, root2, man2).select("id", "v")
      .as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a!"), (2L, "B!"), (5L, "E")))
    val keyTouch = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, "UPDATE wm2 SET id = id + 1")
    }
    assert(keyTouch.getMessage.contains("key column"))
    val badCol = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, "UPDATE wm2 SET nope = 1")
    }
    assert(badCol.getMessage.contains("unknown column"))
    // non-DML text falls through to spark.sql and returns its result
    assert(GraftSql.execute(spark, "SELECT 1 AS one").collect()
      .head.getInt(0) == 1)
    GraftSqlTables.unregister("wm2")
  }

  test("SQL maintenance verbs: OPTIMIZE / VACUUM / DESCRIBE HISTORY / RESTORE") {
    import graft.plans.{GraftSql, GraftSqlTables}
    import graft.sources.{Sinks, TxnManifest}
    val tmp = java.nio.file.Files.createTempDirectory("sqlmaint_").toString
    val root = s"$tmp/t"
    val manPath = s"$tmp/_commits"
    val man = new TxnManifest(manPath)
    for (b <- 0 until 3) {
      Sinks.appendBatch((0 until 300).filter(_ % 3 == b)
        .map(i => (i.toLong, s"v$i")).toDF("id", "v"), root, b)
      man.commit(b, Seq(s"$root/batch=$b"))
    }
    GraftSqlTables.register("maint",
      GraftSqlTables.Entry(root, manPath, keys = Seq("id")))
    try {
      // DESCRIBE HISTORY: three append versions with their clocks
      val hist = GraftSql.execute(spark, "DESCRIBE HISTORY maint")
      assert(hist.columns.toSeq ==
        Seq("version", "timestamp_ms", "added", "removed"))
      assert(hist.count() == 3)
      // RESTORE ... TIMESTAMP AS OF resolves through the commit
      // clock (while every version's dirs still exist — restore is
      // only valid inside the vacuum retention window, Delta's rule)
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(s"$manPath.v1"),
        java.nio.file.attribute.FileTime.fromMillis(1000L))
      GraftSql.execute(spark, "RESTORE maint TO TIMESTAMP AS OF '1000'")
      assert(Sinks.readCommitted(spark, root, man).count() == 100)
      GraftSql.execute(spark, "RESTORE maint TO VERSION AS OF 3")
      assert(Sinks.readCommitted(spark, root, man).count() == 300)
      // OPTIMIZE: bin-pack compaction; one entry replaces three
      GraftSql.execute(spark, "OPTIMIZE maint")
      assert(man.committed().size == 1)
      assert(Sinks.readCommitted(spark, root, man).count() == 300)
      // OPTIMIZE ZORDER BY on a fresh append: incremental — the
      // compacted generation is not z-ordered under this spec, so it
      // rewrites once; a SECOND run is a no-op (nothing fresh)
      GraftSql.execute(spark, "OPTIMIZE maint ZORDER BY (id)")
      val afterZ = man.version()
      GraftSql.execute(spark, "OPTIMIZE maint ZORDER BY (id)")
      assert(man.version() == afterZ, "no-op OPTIMIZE must not commit")
      // RESTORE to the pre-z-order version by VERSION AS OF
      GraftSql.execute(spark,
        s"RESTORE maint TO VERSION AS OF ${afterZ - 1}")
      assert(Sinks.readCommitted(spark, root, man).count() == 300)
      // VACUUM RETAIN 0 HOURS sweeps the un-named z-order output
      val swept = GraftSql.execute(spark, "VACUUM maint RETAIN 0 HOURS")
      assert(swept.count() >= 1)
      assert(Sinks.readCommitted(spark, root, man).count() == 300)
      // unregistered table name → delegate's own parse error, verbatim
      intercept[Exception] {
        GraftSql.execute(spark, "OPTIMIZE not_registered")
      }
      // INSERT INTO appends one stats-indexed batch (positional
      // column semantics: query names don't matter, positions do)
      GraftSql.execute(spark,
        "INSERT INTO maint SELECT 900 + c AS a, 'new' AS b FROM " +
          "(SELECT explode(sequence(0, 4)) AS c)")
      assert(Sinks.readCommitted(spark, root, man).count() == 305)
      assert(Sinks.readCommitted(spark, root, man)
        .where($"id" === 902L).select("v").as[String].head() == "new")
      // column-count mismatch fails loudly
      val mism = intercept[IllegalArgumentException] {
        GraftSql.execute(spark, "INSERT INTO maint SELECT 1")
      }
      assert(mism.getMessage.contains("column"))
      // INSERT OVERWRITE atomically replaces the table
      GraftSql.execute(spark,
        "INSERT OVERWRITE maint VALUES (1, 'only'), (2, 'rows')")
      assert(Sinks.readCommitted(spark, root, man)
        .select("id", "v").as[(Long, String)].collect().sorted.toSeq ==
        Seq((1L, "only"), (2L, "rows")))
      // a bad source query errors at PARSE, before any side effect
      intercept[Exception] {
        GraftSql.execute(spark, "INSERT INTO maint SELECT FROM nope")
      }
    } finally GraftSqlTables.unregister("maint")
  }

  test("DESCRIBE DETAIL and VACUUM DRY RUN") {
    import graft.plans.{GraftSql, GraftSqlTables}
    import graft.sources.{Sinks, StatsSinks, TxnManifest}
    val base = java.nio.file.Files.createTempDirectory("graft_detail_").toString
    val root = s"$base/t"
    val manPath = s"$base/_commits"
    val man = new TxnManifest(manPath)
    StatsSinks.appendBatchStats(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, 0)
    man.commit(0, Seq(s"$root/batch=0"))
    StatsSinks.appendBatchStats(Seq((3L, "c")).toDF("id", "v"), root, 1)
    man.commit(1, Seq(s"$root/batch=1"))
    GraftSqlTables.register("vdt",
      GraftSqlTables.Entry(root, manPath, Seq("id")))

    val detail = GraftSql.execute(spark, "DESCRIBE DETAIL vdt").collect()
    assert(detail.length == 2)
    assert(detail.map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L))
    assert(detail.forall(r => r.getLong(3) >= 1 && r.getLong(4) > 0),
      detail.mkString("; "))
    assert(detail.forall(_.getBoolean(5)), "value stats missing")

    // orphan a dir (crash shape: written, never committed), old mtime
    val orphan = s"$root/batch=9"
    Seq((9L, "x")).toDF("id", "v").write.parquet(orphan)
    new java.io.File(orphan).setLastModified(
      System.currentTimeMillis() - 48L * 3600 * 1000)
    // DRY RUN reports it and deletes NOTHING
    val dry = GraftSql.execute(spark, "VACUUM vdt RETAIN 24 HOURS DRY RUN")
      .collect().map(_.getString(0))
    assert(dry.toSeq == Seq("batch=9"), dry.toSeq.toString)
    assert(new java.io.File(orphan).exists(), "dry run deleted data")
    // the real vacuum then reclaims exactly that
    val real = GraftSql.execute(spark, "VACUUM vdt RETAIN 24 HOURS")
      .collect().map(_.getString(0))
    assert(real.toSeq == Seq("batch=9"))
    assert(!new java.io.File(orphan).exists())
    assert(Sinks.readCommitted(spark, root, man).count() == 3)
  }

  test("MERGE column-level UPDATE expressions + full-sync UPDATE arm") {
    import graft.plans.{GraftSql, GraftSqlTables}
    import graft.sources.{Sinks, TxnManifest}
    val tmp = java.nio.file.Files.createTempDirectory("sqlupdx_").toString
    val root = s"$tmp/t"
    val man = new TxnManifest(s"$tmp/_commits")
    Sinks.appendBatch(
      Seq((1L, "a", 10.0, 1L), (2L, "b", 20.0, 1L), (3L, "c", 30.0, 1L))
        .toDF("id", "v", "amt", "active"), root, 0)
    man.commit(0, Seq(s"$root/batch=0"))
    GraftSqlTables.register("uex",
      GraftSqlTables.Entry(root, s"$tmp/_commits", keys = Seq("id")))
    try {
      // source carries the target shape PLUS an expression input
      // (delta) that must never land in the table
      Seq((2L, "B", 22.0, 1L, 5.0), (7L, "g", 70.0, 1L, 0.0))
        .toDF("id", "v", "amt", "active", "delta")
        .createOrReplaceTempView("uex_src")
      GraftSql.execute(spark,
        """MERGE INTO uex AS t USING uex_src AS s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET t.amt = t.amt + s.delta
          |WHEN NOT MATCHED THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE AND t.id > 1
          |  THEN UPDATE SET t.active = 0""".stripMargin)
      val rows = Sinks.readCommitted(spark, root, man)
        .select("id", "v", "amt", "active")
        .as[(Long, String, Double, Long)].collect().sorted.toSeq
      assert(rows == Seq(
        (1L, "a", 10.0, 1L),   // unmatched by source, condition false
        (2L, "b", 25.0, 1L),   // PARTIAL update: amt recomputed, v KEPT
        (3L, "c", 30.0, 0L),   // full-sync arm flagged it in place
        (7L, "g", 70.0, 1L)))  // inserted; delta projected away
      assert(Sinks.readCommitted(spark, root, man).columns.toSeq ==
        Seq("id", "v", "amt", "active"))
      // touching a merge key in any SET list fails at parse
      val keyTouch = intercept[IllegalArgumentException] {
        GraftSql.execute(spark,
          "MERGE INTO uex AS t USING uex_src AS s ON t.id = s.id " +
            "WHEN MATCHED THEN UPDATE SET t.id = s.id + 1")
      }
      assert(keyTouch.getMessage.contains("merge key"))
      // an unconditional matched clause must come LAST — Spark's own
      // parser enforces it for SQL text; our translation re-checks so
      // the programmatic plan path cannot smuggle delete-wins ordering
      val order = intercept[Exception] {
        GraftSql.execute(spark,
          "MERGE INTO uex AS t USING uex_src AS s ON t.id = s.id " +
            "WHEN MATCHED THEN UPDATE SET * " +
            "WHEN MATCHED AND s.delta > 0 THEN DELETE")
      }
      assert(order.getMessage.toLowerCase.contains("condition") ||
        order.getMessage.contains("unconditional"))
      // hand-built plan (what the parser refuses): unconditional
      // UPDATE before conditional DELETE → our translate rejects it,
      // so the programmatic plan path cannot smuggle delete-wins
      locally {
        import org.apache.spark.sql.catalyst.plans.logical.{DeleteAction, MergeIntoTable, UpdateStarAction}
        import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
        import org.apache.spark.sql.catalyst.expressions.{EqualTo, GreaterThan, Literal}
        val plan = MergeIntoTable(
          UnresolvedRelation(Seq("uex")), UnresolvedRelation(Seq("uex_src")),
          EqualTo(UnresolvedAttribute(Seq("uex", "id")),
            UnresolvedAttribute(Seq("uex_src", "id"))),
          matchedActions = Seq(UpdateStarAction(None),
            DeleteAction(Some(GreaterThan(
              UnresolvedAttribute(Seq("uex_src", "delta")), Literal(0.0))))),
          notMatchedActions = Nil, notMatchedBySourceActions = Nil,
          withSchemaEvolution = false)
        val progOrder = intercept[IllegalArgumentException] {
          graft.plans.GraftDml.translate(plan)
        }
        assert(progOrder.getMessage.contains("unconditional"))
      }
      // the full-sync clause takes ONE action, not both (Spark's own
      // parser already rejects two unconditional ones; a conditional
      // pair reaches our translation and fails there)
      val both = intercept[IllegalArgumentException] {
        GraftSql.execute(spark,
          "MERGE INTO uex AS t USING uex_src AS s ON t.id = s.id " +
            "WHEN NOT MATCHED BY SOURCE AND t.active = 1 THEN DELETE " +
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET t.active = 0")
      }
      assert(both.getMessage.contains("NOT MATCHED BY SOURCE"))
      // duplicate SET targets fail loudly (Spark's own parser rejects
      // them first; our translation guards the programmatic path)
      intercept[Exception] {
        GraftSql.execute(spark,
          "MERGE INTO uex AS t USING uex_src AS s ON t.id = s.id " +
            "WHEN MATCHED THEN UPDATE SET t.amt = 1.0, t.amt = 2.0")
      }
    } finally GraftSqlTables.unregister("uex")
    // SQL UPDATE SET is SIMULTANEOUS: every assignment sees the OLD
    // row — the classic swap must swap, not copy
    val tmp2 = java.nio.file.Files.createTempDirectory("sqlswap_").toString
    val root2 = s"$tmp2/t"
    val man2 = new TxnManifest(s"$tmp2/_commits")
    Sinks.appendBatch(Seq((1L, 1.0, 2.0)).toDF("id", "a", "b"), root2, 0)
    man2.commit(0, Seq(s"$root2/batch=0"))
    GraftSqlTables.register("swp",
      GraftSqlTables.Entry(root2, s"$tmp2/_commits", keys = Seq("id")))
    try {
      GraftSql.execute(spark, "UPDATE swp SET a = b, b = a")
      assert(Sinks.readCommitted(spark, root2, man2)
        .select("id", "a", "b").as[(Long, Double, Double)].collect()
        .toSeq == Seq((1L, 2.0, 1.0)))
      intercept[Exception] {
        GraftSql.execute(spark, "UPDATE swp SET a = 1.0, a = 2.0")
      }
    } finally GraftSqlTables.unregister("swp")
  }

  test("MERGE conditional WHEN MATCHED UPDATE: op routing and clause order") {
    import graft.plans.{GraftSql, GraftSqlTables}
    import graft.sources.{Sinks, TxnManifest}
    val tmp = java.nio.file.Files.createTempDirectory("sqlcond_").toString
    val root = s"$tmp/t"
    val man = new TxnManifest(s"$tmp/_commits")
    Sinks.appendBatch(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
        .toDF("id", "v", "amt"), root, 0)
    man.commit(0, Seq(s"$root/batch=0"))
    GraftSqlTables.register("cnd",
      GraftSqlTables.Entry(root, s"$tmp/_commits", keys = Seq("id")))
    try {
      Seq((1L, "A1", 11.0, "U"), (2L, "x", 0.0, "D"),
        (3L, "MUST-NOT-APPLY", 99.0, "K"), (9L, "i", 90.0, "U"))
        .toDF("id", "v", "amt", "op").createOrReplaceTempView("cnd_src")
      // the CDC op-routing idiom: a matched row claimed by NEITHER
      // conditional clause stays untouched (round-6 had no way to
      // express this — update was all-or-nothing)
      GraftSql.execute(spark,
        """MERGE INTO cnd AS t USING cnd_src AS s ON t.id = s.id
          |WHEN MATCHED AND s.op = 'D' THEN DELETE
          |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET t.v = s.v, t.amt = s.amt
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      def rows() = Sinks.readCommitted(spark, root, man)
        .select("id", "v", "amt").as[(Long, String, Double)]
        .collect().sorted.toSeq
      assert(rows() == Seq(
        (1L, "A1", 11.0),  // op U: updated
        (3L, "c", 30.0),   // op K: matched, claimed by neither — KEPT
        (4L, "d", 40.0),   // not in source
        (9L, "i", 90.0)))  // inserted
      // clause order: the update claims its rows FIRST, the trailing
      // unconditional DELETE takes only the remainder
      GraftSql.execute(spark,
        """MERGE INTO cnd AS t USING cnd_src AS s ON t.id = s.id
          |WHEN MATCHED AND s.op = 'K' THEN UPDATE SET t.v = 'seen'
          |WHEN MATCHED THEN DELETE""".stripMargin)
      assert(rows() == Seq(
        (3L, "seen", 30.0), // claimed by the update, NOT deleted
        (4L, "d", 40.0)))   // unmatched by source: untouched
      // conditional SET *: whole-row replace gated on the predicate —
      // id 3 matches (s.amt = 99 > 50) and is replaced by its source
      // row (projected to the table's columns, op never lands); id 4
      // is unmatched and stays
      GraftSql.execute(spark,
        """MERGE INTO cnd AS t USING cnd_src AS s ON t.id = s.id
          |WHEN MATCHED AND s.amt > 50.0 THEN UPDATE SET *""".stripMargin)
      assert(rows() == Seq(
        (3L, "MUST-NOT-APPLY", 99.0),
        (4L, "d", 40.0)))
      // conditional INSERT with expression VALUES and a PARTIAL
      // column list: only op='U' unmatched rows enter (1, 9 — id 2's
      // op is 'D'), v computes from an expression, amt lands NULL
      GraftSql.execute(spark,
        """MERGE INTO cnd AS t USING cnd_src AS s ON t.id = s.id
          |WHEN NOT MATCHED AND s.op = 'U' THEN INSERT (id, v)
          |  VALUES (s.id, concat(s.v, '+'))""".stripMargin)
      val withNulls = Sinks.readCommitted(spark, root, man)
        .select("id", "v", "amt").as[(Long, String, Option[Double])]
        .collect().sorted.toSeq
      assert(withNulls == Seq(
        (1L, "A1+", None),          // inserted by expression; amt NULL
        (3L, "MUST-NOT-APPLY", Some(99.0)),
        (4L, "d", Some(40.0)),
        (9L, "i+", None)))          // inserted; id 2 (op D) did NOT
      // an INSERT list that skips a merge key fails at parse
      val unkeyed = intercept[IllegalArgumentException] {
        GraftSql.execute(spark,
          "MERGE INTO cnd AS t USING cnd_src AS s ON t.id = s.id " +
            "WHEN NOT MATCHED THEN INSERT (v) VALUES (s.v)")
      }
      assert(unkeyed.getMessage.contains("merge key"))
      // conditional full-sync DELETE: only unmatched target rows
      // satisfying the predicate purge. Table: {1(A1+,amt NULL),
      // 3(MUST-NOT-APPLY,99), 4(d,40), 9(i+,NULL)}; source keys
      // {1,2,3,9} → unmatched target = {4}; predicate amt > 50 is
      // false for id 4 → NOTHING deleted
      GraftSql.execute(spark,
        """MERGE INTO cnd AS t USING cnd_src AS s ON t.id = s.id
          |WHEN NOT MATCHED BY SOURCE AND t.amt > 50.0 THEN DELETE""".stripMargin)
      assert(Sinks.readCommitted(spark, root, man).count() == 4)
      // ... and with a predicate id 4 satisfies, it purges
      GraftSql.execute(spark,
        """MERGE INTO cnd AS t USING cnd_src AS s ON t.id = s.id
          |WHEN NOT MATCHED BY SOURCE AND t.amt > 30.0 THEN DELETE""".stripMargin)
      assert(Sinks.readCommitted(spark, root, man)
        .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 9L))
    } finally GraftSqlTables.unregister("cnd")
  }

  test("GraftCatalog: CREATE/DROP/recreate lifecycle, option persistence, registration-free DML") {
    import graft.plans.{GraftCatalog, GraftSql}
    val wh = java.nio.file.Files.createTempDirectory("graft_cat_wh_").toString
    spark.conf.set("spark.sql.catalog.gcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    GraftSql.execute(spark,
      """CREATE TABLE gcat.acc (id BIGINT, v STRING, amt DOUBLE)
        |USING `graft-manifest`
        |TBLPROPERTIES ('keys' = 'id', 'cdf' = 'true')""".stripMargin)
    // a created-but-empty table SELECTs as zero rows of the DECLARED
    // schema (not an error — the table exists)
    val empty = spark.sql("SELECT * FROM gcat.acc")
    assert(empty.columns.toSeq == Seq("id", "v", "amt"))
    assert(empty.count() == 0)
    // CREATE of an existing name fails loudly (and atomically: the
    // exclusive metadata create is the race guard)
    intercept[Exception] {
      GraftSql.execute(spark,
        "CREATE TABLE gcat.acc (id BIGINT) USING `graft-manifest`")
    }
    // INSERT bootstraps POSITIONALLY against the declared schema:
    // names from the query don't matter, the declared types do (the
    // INT literal lands as BIGINT)
    GraftSql.execute(spark,
      "INSERT INTO gcat.acc VALUES (1, 'a', 10.0), (2, 'b', 20.0)")
    assert(spark.sql("SELECT * FROM gcat.acc").schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    // DML with NO register() call: lookup resolves through the
    // catalog's persisted metadata
    Seq((2L, "B", 5.0), (9L, "i", 90.0)).toDF("id", "v", "delta")
      .createOrReplaceTempView("gcat_upd")
    GraftSql.execute(spark,
      """MERGE INTO gcat.acc AS t USING gcat_upd AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.amt = t.amt + s.delta
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.sql("SELECT id, v, amt FROM gcat.acc")
      .as[(Long, String, Option[Double])].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a", Some(10.0)), (2L, "b", Some(25.0)),
      (9L, "i", None))) // 9: insert-* aligned to (id, v); amt NULL
    // option persistence: a FRESH catalog instance re-reads the
    // entry from disk — keys, cdf flag, declared schema intact
    val fresh = new GraftCatalog
    fresh.initialize("gcat2", new org.apache.spark.sql.util
      .CaseInsensitiveStringMap(java.util.Map.of("warehouse", wh)))
    val entry = fresh.entryFor("acc").get
    assert(entry.keys == Seq("id") && entry.cdf && !entry.deletionVectors)
    assert(entry.schemaJson.exists(_.contains("amt")),
      "declared schema must round-trip through the catalog file")
    // the cdf flag is LIVE: the merge above recorded a change feed
    val root = entry.root
    assert(new java.io.File(s"$root/_cdf").exists,
      "cdf='true' table must record its change feed on MERGE")
    // DROP on a MANAGED table removes metadata AND data
    GraftSql.execute(spark, "DROP TABLE gcat.acc")
    assert(!new java.io.File(root).exists, "managed root must be purged")
    intercept[Exception](spark.sql("SELECT * FROM gcat.acc").collect())
    // recreate after drop: clean slate
    GraftSql.execute(spark,
      "CREATE TABLE gcat.acc (id BIGINT) USING `graft-manifest` " +
        "TBLPROPERTIES ('keys' = 'id')")
    assert(spark.sql("SELECT * FROM gcat.acc").count() == 0)
    GraftSql.execute(spark, "DROP TABLE gcat.acc")
    // EXTERNAL table (explicit path): DROP keeps the files
    val ext = java.nio.file.Files.createTempDirectory("graft_cat_ext_").toString
    GraftSql.execute(spark,
      s"CREATE TABLE gcat.ext (id BIGINT) USING `graft-manifest` " +
        s"TBLPROPERTIES ('keys' = 'id', 'path' = '$ext/t')")
    GraftSql.execute(spark, "INSERT INTO gcat.ext VALUES (7)")
    GraftSql.execute(spark, "DROP TABLE gcat.ext")
    assert(new java.io.File(s"$ext/t/batch=0").exists,
      "external data must survive DROP TABLE")
    // DROP TABLE IF EXISTS of an absent table is a quiet no-op
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gcat.nope")
    // CTAS: schema comes from the query, the table populates in the
    // same statement (the V1 batch-write fallback makes Spark's own
    // CreateTableAsSelect exec work against the catalog)
    GraftSql.execute(spark,
      "CREATE TABLE gcat.c2 USING `graft-manifest` " +
        "TBLPROPERTIES ('keys' = 'x') AS SELECT 1 AS x, 'a' AS y")
    def c2() = spark.sql("SELECT x, y FROM gcat.c2")
      .as[(Int, String)].collect().sorted.toSeq
    assert(c2() == Seq((1, "a")))
    // Spark's NATIVE write paths (no graft statement interception):
    // DataFrameWriterV2 append plans AppendData against the table
    Seq((2, "b")).toDF("x", "y").writeTo("gcat.c2").append()
    assert(c2() == Seq((1, "a"), (2, "b")))
    // ... and a true-literal overwrite truncates atomically
    Seq((9, "z")).toDF("x", "y").writeTo("gcat.c2")
      .overwrite(org.apache.spark.sql.functions.lit(true))
    assert(c2() == Seq((9, "z")))
    // the appended batches carry stats sidecars like any graft batch
    val c2root = {
      val fresh2 = new GraftCatalog
      fresh2.initialize("gcat3", new org.apache.spark.sql.util
        .CaseInsensitiveStringMap(java.util.Map.of("warehouse", wh)))
      fresh2.entryFor("c2").get.root
    }
    assert(new java.io.File(s"$c2root/batch=0/_stats.tsv").exists ||
      new java.io.File(s"$c2root/batch=0").listFiles()
        .exists(_.getName.startsWith("_stats")),
      "native writes must stay stats-indexed")
    // SHOW TABLES lists the catalog's persisted entries
    val shown = spark.sql("SHOW TABLES IN gcat")
      .select("tableName").as[String].collect().toSet
    assert(shown == Set("c2"), // acc and ext were dropped above
      s"SHOW TABLES expected exactly the live entry: $shown")
    GraftSql.execute(spark, "DROP TABLE gcat.c2")
    // bloomColumns TBLPROPERTY: every write through the table —
    // native OR statement path — bloom-indexes the column
    GraftSql.execute(spark,
      "CREATE TABLE gcat.bl (id BIGINT, v STRING) USING `graft-manifest` " +
        "TBLPROPERTIES ('keys' = 'id', 'bloomColumns' = 'id')")
    GraftSql.execute(spark, "INSERT INTO gcat.bl VALUES (1, 'a')")
    Seq((2L, "b")).toDF("id", "v").writeTo("gcat.bl").append()
    val blRoot = {
      val f3 = new GraftCatalog
      f3.initialize("gcat4", new org.apache.spark.sql.util
        .CaseInsensitiveStringMap(java.util.Map.of("warehouse", wh)))
      f3.entryFor("bl").get.root
    }
    val conf = spark.sparkContext.hadoopConfiguration
    assert(graft.sources.BloomIndex
      .indexedColumns(conf, s"$blRoot/batch=0") == Set("id"),
      "statement-path INSERT must bloom-index declared columns")
    assert(graft.sources.BloomIndex
      .indexedColumns(conf, s"$blRoot/batch=1") == Set("id"),
      "native-path append must bloom-index declared columns")
    // unindexable bloom column type fails at CREATE, not first write
    intercept[Exception] {
      GraftSql.execute(spark,
        "CREATE TABLE gcat.bl2 (id BIGINT, x DOUBLE) USING `graft-manifest` " +
          "TBLPROPERTIES ('keys' = 'id', 'bloomColumns' = 'x')")
    }
    GraftSql.execute(spark, "DROP TABLE gcat.bl")
  }

  test("catalog SQL time travel: VERSION AS OF / TIMESTAMP AS OF") {
    import graft.plans.{GraftCatalog, GraftSql}
    val wh = java.nio.file.Files.createTempDirectory("graft_tt_wh_").toString
    spark.conf.set("spark.sql.catalog.gtt", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtt.warehouse", wh)
    GraftSql.execute(spark,
      "CREATE TABLE gtt.t (id BIGINT, v STRING) USING `graft-manifest` " +
        "TBLPROPERTIES ('keys' = 'id')")
    GraftSql.execute(spark, "INSERT INTO gtt.t VALUES (1, 'a')") // v1
    Seq((2L, "b")).toDF("id", "v").writeTo("gtt.t").append()     // v2
    def ids(sql: String) =
      spark.sql(sql).select("id").as[Long].collect().sorted.toSeq
    assert(ids("SELECT * FROM gtt.t") == Seq(1L, 2L))
    assert(ids("SELECT * FROM gtt.t VERSION AS OF 1") == Seq(1L))
    assert(ids("SELECT * FROM gtt.t VERSION AS OF 2") == Seq(1L, 2L))
    // TIMESTAMP AS OF resolves through the commit clock (claim-file
    // mtimes, pinned here for determinism): 1.5 s lands between the
    // two commits → the earlier one
    val manPath = {
      val f = new GraftCatalog
      f.initialize("gtt2", new org.apache.spark.sql.util
        .CaseInsensitiveStringMap(java.util.Map.of("warehouse", wh)))
      f.entryFor("t").get.manifestPath
    }
    for ((v, t) <- Seq(1 -> 1000L, 2 -> 2000L))
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(s"$manPath.v$v"),
        java.nio.file.attribute.FileTime.fromMillis(t))
    assert(ids("SELECT * FROM gtt.t TIMESTAMP AS OF '1970-01-01 00:00:01.5'")
      == Seq(1L))
    assert(ids("SELECT * FROM gtt.t TIMESTAMP AS OF '1970-01-01 00:00:02'")
      == Seq(1L, 2L))
    // out-of-range version fails loudly, not an empty table
    intercept[Exception](
      spark.sql("SELECT * FROM gtt.t VERSION AS OF 99").collect())
    GraftSql.execute(spark, "DROP TABLE gtt.t")
  }

  test("empty-state guards: OPTIMIZE on an empty table, timestampAsOf with no dirs under root") {
    import graft.plans.{GraftSql, GraftSqlTables}
    import graft.sources.{Sinks, TxnManifest}
    // OPTIMIZE on a registered-but-never-committed table: a guided
    // error, not an opaque empty-max crash
    val tmp = java.nio.file.Files.createTempDirectory("sqlempty_").toString
    GraftSqlTables.register("emp",
      GraftSqlTables.Entry(s"$tmp/t", s"$tmp/_commits", keys = Seq("id")))
    try {
      val e = intercept[IllegalArgumentException] {
        GraftSql.execute(spark, "OPTIMIZE emp")
      }
      assert(e.getMessage.contains("nothing committed"))
    } finally GraftSqlTables.unregister("emp")
    // timestampAsOf resolving to a version with NO dirs under the
    // requested root (a dual-root manifest whose root-b history
    // starts LATER) fails with readCommittedAtVersion's loud error,
    // never an empty scan that misreads "no table yet at that time"
    // as "table was empty at that time"
    val man = new TxnManifest(s"$tmp/_commits2")
    Sinks.appendBatch(Seq((1L, "a")).toDF("id", "v"), s"$tmp/a", 0)
    man.commit(0, Seq(s"$tmp/a/batch=0"))                 // version 1
    Sinks.appendBatch(Seq((2L, "b")).toDF("id", "v"), s"$tmp/b", 1)
    man.commit(1, Seq(s"$tmp/b/batch=1"))                 // version 2
    for ((v, t) <- Seq(1 -> 1000L, 2 -> 2000L))
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(s"$tmp/_commits2.v$v"),
        java.nio.file.attribute.FileTime.fromMillis(t))
    val e2 = intercept[IllegalStateException] {
      spark.read.format("graft-manifest")
        .option("manifest", s"$tmp/_commits2")
        .option("timestampAsOf", "1500") // resolves to version 1
        .load(s"$tmp/b")
        .collect()
    }
    assert(e2.getMessage.contains("nothing committed under"))
  }

  test("GraftCatalog columnMapping: ALTER COLUMN DDL, DML in logical space") {
    import graft.plans.{GraftCatalog, GraftSql}
    import org.apache.spark.sql.functions.col
    val wh = java.nio.file.Files.createTempDirectory("graft_alter_wh_").toString
    spark.conf.set("spark.sql.catalog.galt", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.galt.warehouse", wh)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS galt.m")
    GraftSql.execute(spark,
      """CREATE TABLE galt.m (id BIGINT, v STRING, amt DOUBLE)
        |USING `graft-manifest`
        |TBLPROPERTIES ('keys' = 'id', 'columnMapping' = 'true')""".stripMargin)
    spark.range(0, 10)
      .selectExpr("id", "concat('v', id) AS v", "CAST(id AS DOUBLE) AS amt")
      .createOrReplaceTempView("galt_src")
    GraftSql.execute(spark, "INSERT INTO galt.m SELECT * FROM galt_src")
    // the mapping invariant: files carry PHYSICAL names only
    val fileCols = spark.read.parquet(s"$wh/m/batch=0").columns.toSet
    assert(fileCols == Set("p0", "p1", "p2"), s"files carry $fileCols")
    assert(spark.sql("SELECT id, v, amt FROM galt.m").count() == 10)

    // RENAME COLUMN: metadata-only — zero data bytes change
    val batch0 = new java.io.File(s"$wh/m/batch=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    spark.sql("ALTER TABLE galt.m RENAME COLUMN amt TO amount")
    val batch0b = new java.io.File(s"$wh/m/batch=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(batch0 == batch0b, "rename touched data files")
    assert(spark.sql("SELECT amount FROM galt.m").count() == 10)

    // MERGE under the NEW name: logical-space evaluation, one commit
    spark.range(0, 3).selectExpr("id", "CAST(100 AS DOUBLE) AS amount")
      .createOrReplaceTempView("galt_upd")
    GraftSql.execute(spark,
      """MERGE INTO galt.m AS t USING galt_upd AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.amount = s.amount + t.amount""".stripMargin)
    val merged = spark.sql("SELECT id, amount FROM galt.m ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(merged(1L) == 101.0 && merged(5L) == 5.0, s"merged: $merged")

    // ADD COLUMN: old rows serve NULL, new INSERT carries it
    spark.sql("ALTER TABLE galt.m ADD COLUMN note STRING")
    spark.range(100, 102)
      .selectExpr("id", "concat('n', id) AS v", "CAST(0 AS DOUBLE) AS amount",
        "'fresh' AS note")
      .createOrReplaceTempView("galt_src2")
    GraftSql.execute(spark, "INSERT INTO galt.m SELECT * FROM galt_src2")
    val notes = spark.sql("SELECT note FROM galt.m").collect().map(_.getString(0))
    assert(notes.count(_ == null) == 10 && notes.count(_ == "fresh") == 2)

    // SQL UPDATE and DELETE evaluate logical names
    GraftSql.execute(spark,
      "UPDATE galt.m SET note = 'old' WHERE amount > 100.0")
    GraftSql.execute(spark, "DELETE FROM galt.m WHERE id = 101")
    val after = spark.sql("SELECT id, note FROM galt.m").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after(1L) == "old" && after(100L) == "fresh" && !after.contains(101L))

    // DROP COLUMN, then re-ADD: fresh physical id — dropped data is
    // NOT resurrected (the mergeSchema hazard the mapping removes)
    spark.sql("ALTER TABLE galt.m DROP COLUMN v")
    assert(!spark.table("galt.m").columns.contains("v"))
    spark.sql("ALTER TABLE galt.m ADD COLUMN v STRING")
    assert(spark.sql("SELECT v FROM galt.m").collect().forall(_.isNullAt(0)))

    // OPTIMIZE ZORDER takes logical names on mapped tables
    GraftSql.execute(spark, "OPTIMIZE galt.m ZORDER BY (amount)")
    assert(spark.sql("SELECT id FROM galt.m").count() == 11)

    // loud rejections: key drop, retype, nested, non-mapped table
    val eKey = intercept[Exception] {
      spark.sql("ALTER TABLE galt.m DROP COLUMN id") }
    assert(eKey.getMessage.contains("merge-key"))
    val eType = intercept[Exception] {
      spark.sql("ALTER TABLE galt.m ALTER COLUMN amount TYPE STRING") }
    assert(eType.getMessage.contains("retype") ||
      eType.getMessage.contains("Unsupported"), eType.getMessage)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS galt.plain")
    GraftSql.execute(spark,
      """CREATE TABLE galt.plain (id BIGINT, v STRING) USING `graft-manifest`
        |TBLPROPERTIES ('keys' = 'id')""".stripMargin)
    val ePlain = intercept[Exception] {
      spark.sql("ALTER TABLE galt.plain RENAME COLUMN v TO w") }
    assert(ePlain.getMessage.contains("columnMapping"), ePlain.getMessage)
    // behavior toggles flow through SET TBLPROPERTIES on any table
    spark.sql("ALTER TABLE galt.plain SET TBLPROPERTIES ('cdf' = 'true')")
    val fresh = new GraftCatalog
    fresh.initialize("galt", new org.apache.spark.sql.util
      .CaseInsensitiveStringMap(java.util.Map.of("warehouse", wh)))
    assert(fresh.entryFor("plain").exists(_.cdf))
    val eProp = intercept[Exception] {
      spark.sql("ALTER TABLE galt.plain SET TBLPROPERTIES ('keys' = 'v')") }
    assert(eProp.getMessage.contains("CREATE-time-only"), eProp.getMessage)
    // mapped streaming sink still rejects loudly
    val log = fresh.entryFor("m").flatMap(_.schemaLogPath)
    assert(log.isDefined)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS galt.plain")
    GraftSql.execute(spark, "DROP TABLE IF EXISTS galt.m")
  }

  test("type widening: ALTER COLUMN TYPE widens metadata-only, narrows refuse") {
    import graft.plans.{GraftCatalog, GraftSql}
    val wh = java.nio.file.Files.createTempDirectory("graft_widen_wh_").toString
    spark.conf.set("spark.sql.catalog.gwid", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gwid.warehouse", wh)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gwid.t")
    GraftSql.execute(spark,
      """CREATE TABLE gwid.t (id BIGINT, v INT, f FLOAT, d DECIMAL(5,2))
        |USING `graft-manifest`
        |TBLPROPERTIES ('keys' = 'id', 'columnMapping' = 'true')""".stripMargin)
    spark.range(0, 5).selectExpr("id", "CAST(id AS INT) AS v",
        "CAST(id AS FLOAT) AS f", "CAST(id AS DECIMAL(5,2)) AS d")
      .createOrReplaceTempView("gwid_src")
    GraftSql.execute(spark, "INSERT INTO gwid.t SELECT * FROM gwid_src")

    // widen all three: METADATA-ONLY — data files byte-untouched
    val files = new java.io.File(s"$wh/t/batch=0").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> ((f.lastModified, f.length))).toMap
    spark.sql("ALTER TABLE gwid.t ALTER COLUMN v TYPE BIGINT")
    spark.sql("ALTER TABLE gwid.t ALTER COLUMN f TYPE DOUBLE")
    spark.sql("ALTER TABLE gwid.t ALTER COLUMN d TYPE DECIMAL(10,4)")
    val filesAfter = new java.io.File(s"$wh/t/batch=0").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> ((f.lastModified, f.length))).toMap
    assert(files == filesAfter, "widen touched data files")

    // the table serves the widened schema; OLD files promote on read
    val sch = spark.table("gwid.t").schema.fields.map(f =>
      f.name -> f.dataType.sql).toMap
    assert(sch("v") == "BIGINT" && sch("f") == "DOUBLE" &&
      sch("d") == "DECIMAL(10,4)", sch.toString)
    // post-widen inserts need the wide range; reads span MIXED files
    spark.sql("SELECT 100 AS id, CAST(40000000000 AS BIGINT) AS v, " +
        "CAST(1.5 AS DOUBLE) AS f, CAST(123456.7890 AS DECIMAL(10,4)) AS d")
      .createOrReplaceTempView("gwid_big")
    GraftSql.execute(spark, "INSERT INTO gwid.t SELECT * FROM gwid_big")
    val got = spark.sql("SELECT id, v FROM gwid.t ORDER BY id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(3L) == 3L && got(100L) == 40000000000L, got.toString)
    // UPDATE's merge probe/rewrite also reads through the widened
    // schema (mixed int/long files under one statement)
    GraftSql.execute(spark, "UPDATE gwid.t SET v = v + 1 WHERE id = 3")
    assert(spark.sql("SELECT v FROM gwid.t WHERE id = 3")
      .head().getLong(0) == 4L)

    // NARROWING and lossy changes refuse loudly. Down-casts die in
    // Spark's own analyzer (NOT_SUPPORTED_CHANGE_COLUMN — it only
    // forwards up-casts to the catalog); long->double is an up-cast
    // to SPARK but lossy past 2^53, so OUR guard catches it.
    for (bad <- Seq("ALTER COLUMN v TYPE INT",      // narrow
                    "ALTER COLUMN f TYPE FLOAT",    // narrow
                    "ALTER COLUMN d TYPE DECIMAL(5,1)", // scale shrink
                    "ALTER COLUMN id TYPE DOUBLE")) { // long->double lossy
      val e = intercept[Exception] { spark.sql(s"ALTER TABLE gwid.t $bad") }
      assert(e.getMessage.contains("not a widening") ||
        e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
        s"$bad: ${e.getMessage}")
    }
    // the lossy up-cast specifically reaches the SchemaLog guard
    val eLossy = intercept[Exception] {
      spark.sql("ALTER TABLE gwid.t ALTER COLUMN id TYPE DOUBLE") }
    assert(eLossy.getMessage.contains("not a widening"), eLossy.getMessage)
    // deletionVectors + columnMapping + widen compose: the DV probe
    // reads pre-widen files through the widened physical schema
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gwid.dv")
    GraftSql.execute(spark,
      """CREATE TABLE gwid.dv (id BIGINT, v INT)
        |USING `graft-manifest` TBLPROPERTIES ('keys' = 'id',
        |  'columnMapping' = 'true', 'deletionVectors' = 'true')""".stripMargin)
    spark.range(0, 6).selectExpr("id", "CAST(id AS INT) AS v")
      .createOrReplaceTempView("gwid_dv_src")
    GraftSql.execute(spark, "INSERT INTO gwid.dv SELECT * FROM gwid_dv_src")
    spark.sql("ALTER TABLE gwid.dv ALTER COLUMN v TYPE BIGINT")
    GraftSql.execute(spark, "DELETE FROM gwid.dv WHERE v = 2")
    GraftSql.execute(spark, "UPDATE gwid.dv SET v = v + 100 WHERE id = 4")
    val dvGot = spark.sql("SELECT id, v FROM gwid.dv").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dvGot == Map(0L -> 0L, 1L -> 1L, 3L -> 3L, 4L -> 104L, 5L -> 5L),
      dvGot.toString)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gwid.dv")

    // the change feed spans PRE- and POST-widen batches: per-batch
    // frames carry their own physical type and the union coerces
    // int→long (each single commit is type-homogeneous, so the
    // per-batch mergeSchema read stays safe)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gwid.cf")
    GraftSql.execute(spark,
      """CREATE TABLE gwid.cf (id BIGINT, v INT)
        |USING `graft-manifest` TBLPROPERTIES ('keys' = 'id',
        |  'columnMapping' = 'true', 'cdf' = 'true')""".stripMargin)
    spark.range(0, 3).selectExpr("id", "CAST(id AS INT) AS v")
      .createOrReplaceTempView("gwid_cf_src")
    GraftSql.execute(spark, "INSERT INTO gwid.cf SELECT * FROM gwid_cf_src")
    spark.sql("ALTER TABLE gwid.cf ALTER COLUMN v TYPE BIGINT")
    // pre-widen insert batch serves through the WIDENED logical type
    val ins = GraftSql.execute(spark,
      "SELECT * FROM table_changes('gwid.cf', 0)").collect()
    assert(ins.length == 3 &&
      ins.forall(_.getAs[String]("_change_type") == "insert"))
    assert(ins.head.schema("v").dataType ==
      org.apache.spark.sql.types.LongType, ins.head.schema.toString)
    GraftSql.execute(spark,
      "UPDATE gwid.cf SET v = CAST(40000000000 AS BIGINT) WHERE id = 1")
    val upd = GraftSql.execute(spark,
      "SELECT * FROM table_changes('gwid.cf', 1)").collect()
    val types = upd.map(_.getAs[String]("_change_type")).sorted.toSeq
    assert(types == Seq("update_postimage", "update_preimage"), types.toString)
    assert(upd.exists(_.getAs[Long]("v") == 40000000000L))
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gwid.cf")

    // non-mapped tables still reject all column DDL
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gwid.plain")
    GraftSql.execute(spark,
      """CREATE TABLE gwid.plain (id BIGINT, v INT) USING `graft-manifest`
        |TBLPROPERTIES ('keys' = 'id')""".stripMargin)
    val ePlain = intercept[Exception] {
      spark.sql("ALTER TABLE gwid.plain ALTER COLUMN v TYPE BIGINT") }
    assert(ePlain.getMessage.contains("columnMapping"), ePlain.getMessage)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gwid.plain")
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gwid.t")
  }

  test("table_changes TVF: SQL-text CDF, composable, loud rejections") {
    import graft.plans.{GraftSql, GraftSqlTables}
    import graft.sources.{Sinks, TxnManifest}
    val tmp = java.nio.file.Files.createTempDirectory("graft_tvf_").toString
    val root = s"$tmp/t"
    val man = new TxnManifest(s"$tmp/manifest.tsv")
    Sinks.appendBatch(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      root, 0)
    man.commit(0, Seq(s"$root/batch=0"))
    Sinks.merge(spark,
      Some(Seq((2L, "B"), (9L, "i")).toDF("id", "v")),
      Some(Seq(Tuple1(3L)).toDF("id")),
      root, man, Seq("id"), mergeId = 1, cdf = true)
    GraftSqlTables.register("tvf_t",
      GraftSqlTables.Entry(root, s"$tmp/manifest.tsv", keys = Seq("id")))
    try {
      // non-extension session: GraftSql resolves the TVF in place,
      // inside a normal aggregate
      val counts = GraftSql.execute(spark,
        """SELECT _change_type, count(*) AS n
          |FROM table_changes('tvf_t', 1, 1)
          |GROUP BY _change_type""".stripMargin)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map("update_preimage" -> 1L, "update_postimage" -> 1L,
        "insert" -> 1L, "delete" -> 1L), s"got $counts")
      // inclusive-from: the open-ended form serves batch 1's deltas
      assert(GraftSql.execute(spark,
        "SELECT * FROM table_changes('tvf_t', 1)").count() == 4)
      // from=0 asks for batch 0's rows, which the merge COLLAPSED into
      // its rewrite — the planner recovers batch 0's commit-time dirs
      // from the claim tombstones (round 10), so the full history
      // serves: 3 original inserts + batch 1's 4 deltas (same rule as
      // the DSv2 read; VACUUMed history still refuses loudly)
      val full = GraftSql.execute(spark,
        "SELECT _commit_batch, _change_type, id, v " +
          "FROM table_changes('tvf_t', 0)")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
          r.getString(3))).toSet
      assert(full == Set((0, "insert", 1L, "a"), (0, "insert", 2L, "b"),
        (0, "insert", 3L, "c"), (1, "update_preimage", 2L, "b"),
        (1, "update_postimage", 2L, "B"), (1, "insert", 9L, "i"),
        (1, "delete", 3L, "c")), s"got $full")
      // extension session: plain spark.sql resolves it anywhere —
      // here under a join against a view on that session
      withExtensionSession { s =>
        Sinks.readCommitted(s, root, man).createOrReplaceTempView("tvf_live")
        val joined = s.sql(
          """SELECT c.id, c._change_type
            |FROM table_changes('tvf_t', 1, 1) c
            |JOIN tvf_live l ON c.id = l.id""".stripMargin).collect()
        // live table post-merge: ids 1,2,9; batch-1 deltas touching
        // them: update pre+post (id 2), insert (id 9) — the delete
        // (id 3) has no live twin
        assert(joined.length == 3, joined.mkString(","))
      }
      // non-literal / bad arity fail loudly; unknown table is left to
      // Spark's own resolution error
      val eArity = intercept[IllegalArgumentException] {
        GraftSql.execute(spark, "SELECT * FROM table_changes('tvf_t')") }
      assert(eArity.getMessage.contains("2 or 3"))
      val eUnknown = intercept[Exception] {
        GraftSql.execute(spark,
          "SELECT * FROM table_changes('no_such_t', 1)").collect() }
      assert(eUnknown.getMessage.toLowerCase.contains("table_changes") ||
        eUnknown.getMessage.contains("no_such_t"))
    } finally GraftSqlTables.unregister("tvf_t")
  }

  test("catalog RENAME TABLE: metadata move, old name gone, collisions loud") {
    import graft.plans.{GraftCatalog, GraftSql}
    val wh = java.nio.file.Files.createTempDirectory("graft_ren_wh_").toString
    spark.conf.set("spark.sql.catalog.gren", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gren.warehouse", wh)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gren.a")
    GraftSql.execute(spark,
      """CREATE TABLE gren.a (id BIGINT, v STRING) USING `graft-manifest`
        |TBLPROPERTIES ('keys' = 'id')""".stripMargin)
    Seq((1L, "x"), (2L, "y")).toDF("id", "v")
      .createOrReplaceTempView("gren_src")
    GraftSql.execute(spark, "INSERT INTO gren.a SELECT * FROM gren_src")
    spark.sql("ALTER TABLE gren.a RENAME TO b")
    assert(spark.sql("SELECT id FROM gren.b").count() == 2)
    // DML follows the new name (catalog lookup path)
    GraftSql.execute(spark, "DELETE FROM gren.b WHERE id = 1")
    assert(spark.sql("SELECT id FROM gren.b").count() == 1)
    val eOld = intercept[Exception] {
      spark.sql("SELECT * FROM gren.a").collect() }
    assert(eOld.getMessage.contains("a") || eOld.getMessage.contains("TABLE"))
    // rename onto an existing name refuses
    GraftSql.execute(spark,
      """CREATE TABLE gren.c (id BIGINT) USING `graft-manifest`""")
    val eClash = intercept[Exception] {
      spark.sql("ALTER TABLE gren.b RENAME TO c") }
    assert(eClash.getMessage.toLowerCase.contains("exists") ||
      eClash.getMessage.toLowerCase.contains("already"), eClash.getMessage)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gren.b")
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gren.c")
  }

  test("CHECK constraints: ADD/DROP, every write path enforces, batch aborts") {
    import graft.plans.{GraftCatalog, GraftSql}
    val wh = java.nio.file.Files.createTempDirectory("graft_chk_wh_").toString
    spark.conf.set("spark.sql.catalog.gchk", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gchk.warehouse", wh)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gchk.t")
    GraftSql.execute(spark,
      """CREATE TABLE gchk.t (id BIGINT, amt DOUBLE) USING `graft-manifest`
        |TBLPROPERTIES ('keys' = 'id')""".stripMargin)
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amt")
      .createOrReplaceTempView("chk_ok")
    GraftSql.execute(spark, "INSERT INTO gchk.t SELECT * FROM chk_ok")
    spark.sql("ALTER TABLE gchk.t ADD CONSTRAINT amt_pos CHECK (amt > 0)")
    def total() = spark.sql("SELECT * FROM gchk.t").count()
    assert(total() == 2)
    // violating INSERT aborts the WHOLE batch (valid rows included)
    Seq((3L, 5.0), (4L, -1.0)).toDF("id", "amt")
      .createOrReplaceTempView("chk_bad")
    val eIns = intercept[Exception] {
      GraftSql.execute(spark, "INSERT INTO gchk.t SELECT * FROM chk_bad") }
    assert(eIns.getMessage.contains("amt_pos"), eIns.getMessage)
    assert(total() == 2, "aborted insert must commit nothing")
    // violating MERGE update arm aborts
    val eMrg = intercept[Exception] {
      GraftSql.execute(spark,
        """MERGE INTO gchk.t AS t USING chk_ok AS s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET t.amt = -1 * s.amt""".stripMargin) }
    assert(eMrg.getMessage.contains("amt_pos"), eMrg.getMessage)
    // violating UPDATE aborts
    val eUpd = intercept[Exception] {
      GraftSql.execute(spark, "UPDATE gchk.t SET amt = amt - 100.0") }
    assert(eUpd.getMessage.contains("amt_pos"))
    assert(spark.sql("SELECT sum(amt) FROM gchk.t").collect()
      .head.getDouble(0) == 30.0, "aborted DML must leave values intact")
    // NULL passes — the ANSI CHECK rule
    spark.sql("SELECT CAST(5 AS BIGINT) AS id, CAST(NULL AS DOUBLE) AS amt")
      .createOrReplaceTempView("chk_null")
    GraftSql.execute(spark, "INSERT INTO gchk.t SELECT * FROM chk_null")
    assert(total() == 3)
    // ADD over violating existing data refuses (the NULL row passes,
    // but a bound every live amt fails must refuse)
    val eAdd = intercept[Exception] {
      spark.sql("ALTER TABLE gchk.t ADD CONSTRAINT amt_small CHECK (amt < 1)") }
    assert(eAdd.getMessage.contains("existing"), eAdd.getMessage)
    // native SHOW TBLPROPERTIES surfaces the constraint (and the
    // table plumbing) — Table.properties() is the options map
    val props = spark.sql("SHOW TBLPROPERTIES gchk.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("check.amt_pos").contains("amt > 0"), props)
    assert(props.contains("manifest"), props)
    // DROP lifts enforcement; IF EXISTS tolerates a second drop
    spark.sql("ALTER TABLE gchk.t DROP CONSTRAINT amt_pos")
    Seq((9L, -2.0)).toDF("id", "amt").createOrReplaceTempView("chk_neg")
    GraftSql.execute(spark, "INSERT INTO gchk.t SELECT * FROM chk_neg")
    assert(total() == 4)
    val eDrop = intercept[Exception] {
      spark.sql("ALTER TABLE gchk.t DROP CONSTRAINT amt_pos") }
    assert(eDrop.getMessage.contains("no constraint") ||
      eDrop.getMessage.toLowerCase.contains("not"), eDrop.getMessage)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gchk.t")
  }

  test("column DEFAULT values: CREATE-time declaration, INSERT/MERGE fill") {
    import graft.plans.{GraftCatalog, GraftSql}
    val wh = java.nio.file.Files.createTempDirectory("graft_def_wh_").toString
    spark.conf.set("spark.sql.catalog.gdef", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdef.warehouse", wh)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gdef.t")
    GraftSql.execute(spark,
      """CREATE TABLE gdef.t (
        |  id BIGINT, v STRING DEFAULT 'none', score DOUBLE DEFAULT 0.5
        |) USING `graft-manifest` TBLPROPERTIES ('keys' = 'id')""".stripMargin)
    // column-list INSERT: unlisted columns fill from their defaults
    GraftSql.execute(spark,
      "INSERT INTO gdef.t (id) SELECT * FROM range(0, 3)")
    val r1 = spark.sql("SELECT id, v, score FROM gdef.t ORDER BY id").collect()
    assert(r1.forall(r => r.getString(1) == "none" && r.getDouble(2) == 0.5),
      r1.mkString(","))
    // partial list with one provided, others defaulted
    GraftSql.execute(spark,
      "INSERT INTO gdef.t (v, id) SELECT 'set', 10")
    val r2 = spark.sql("SELECT v, score FROM gdef.t WHERE id = 10").collect()
    assert(r2.head.getString(0) == "set" && r2.head.getDouble(1) == 0.5)
    // MERGE partial INSERT list: unlisted falls back to the DEFAULT,
    // not NULL
    Seq((20L, 2.0)).toDF("id", "delta").createOrReplaceTempView("gdef_src")
    GraftSql.execute(spark,
      """MERGE INTO gdef.t AS t USING gdef_src AS s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, score) VALUES (s.id, s.delta)
        |""".stripMargin)
    val r3 = spark.sql("SELECT v, score FROM gdef.t WHERE id = 20").collect()
    assert(r3.head.getString(0) == "none" && r3.head.getDouble(1) == 2.0, r3.mkString)
    // loud rejections: unknown listed column, count mismatch, a
    // column list against an undeclared-schema registration
    val eCol = intercept[Exception] {
      GraftSql.execute(spark, "INSERT INTO gdef.t (nope) SELECT 1") }
    assert(eCol.getMessage.contains("nope"), eCol.getMessage)
    val eCnt = intercept[Exception] {
      GraftSql.execute(spark, "INSERT INTO gdef.t (id, v) SELECT 1") }
    assert(eCnt.getMessage.contains("column list names"), eCnt.getMessage)
    assert(spark.sql("SELECT * FROM gdef.t").count() == 5)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gdef.t")
  }

  test("clusterBy declaration: bare OPTIMIZE maintains the declared z-order") {
    import graft.plans.{GraftCatalog, GraftSql}
    val wh = java.nio.file.Files.createTempDirectory("graft_clu_wh_").toString
    spark.conf.set("spark.sql.catalog.gclu", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gclu.warehouse", wh)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gclu.t")
    GraftSql.execute(spark,
      """CREATE TABLE gclu.t (id BIGINT, v DOUBLE) USING `graft-manifest`
        |TBLPROPERTIES ('keys' = 'id', 'clusterBy' = 'v')""".stripMargin)
    spark.range(0, 2000).selectExpr("id", "CAST(id % 97 AS DOUBLE) AS v")
      .createOrReplaceTempView("gclu_src")
    GraftSql.execute(spark, "INSERT INTO gclu.t SELECT * FROM gclu_src")
    // bare OPTIMIZE (no ZORDER clause) must run the declared z-order —
    // observable via the incremental path's _optimized generation marker
    GraftSql.execute(spark, "OPTIMIZE gclu.t")
    def markers() = {
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$wh/t"), true)
      var found = List.empty[String]
      while (it.hasNext) {
        val f = it.next().getPath.toString
        if (f.contains("_optimized")) found ::= f
      }
      found
    }
    assert(markers().nonEmpty, "bare OPTIMIZE did not run the declared z-order")
    assert(spark.sql("SELECT count(*) FROM gclu.t").collect().head.getLong(0) == 2000)
    // re-declare the clustering; a bad column refuses
    spark.sql("ALTER TABLE gclu.t SET TBLPROPERTIES ('clusterBy' = 'id')")
    val fresh = new GraftCatalog
    fresh.initialize("gclu", new org.apache.spark.sql.util
      .CaseInsensitiveStringMap(java.util.Map.of("warehouse", wh)))
    assert(fresh.entryFor("t").exists(_.clusterBy == Seq("id")))
    val eBad = intercept[Exception] {
      spark.sql("ALTER TABLE gclu.t SET TBLPROPERTIES ('clusterBy' = 'zz')") }
    assert(eBad.getMessage.contains("zz"), eBad.getMessage)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gclu.t")
  }

  test("GENERATED ALWAYS AS columns: compute, recompute, validate") {
    import graft.plans.{GraftCatalog, GraftSql}
    val wh = java.nio.file.Files.createTempDirectory("graft_gen_wh_").toString
    spark.conf.set("spark.sql.catalog.ggen", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ggen.warehouse", wh)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS ggen.t")
    GraftSql.execute(spark,
      """CREATE TABLE ggen.t (
        |  id BIGINT, amt DOUBLE,
        |  amt_cents BIGINT GENERATED ALWAYS AS (CAST(amt * 100 AS BIGINT))
        |) USING `graft-manifest` TBLPROPERTIES ('keys' = 'id')""".stripMargin)
    // column-list INSERT: the generated column COMPUTES
    GraftSql.execute(spark,
      "INSERT INTO ggen.t (id, amt) SELECT id, CAST(id AS DOUBLE) + 0.25 FROM range(0, 3)")
    val r1 = spark.sql("SELECT id, amt_cents FROM ggen.t ORDER BY id").collect()
    assert(r1.map(r => r.getLong(0) -> r.getLong(1)).toSeq ==
      Seq(0L -> 25L, 1L -> 125L, 2L -> 225L), r1.mkString(","))
    // listing the generated column refuses
    val eList = intercept[Exception] {
      GraftSql.execute(spark,
        "INSERT INTO ggen.t (id, amt, amt_cents) SELECT 9, 1.0, 42") }
    assert(eList.getMessage.contains("GENERATED"), eList.getMessage)
    // positional INSERT providing a WRONG value fails validation;
    // a consistent value passes
    val eBad = intercept[Exception] {
      GraftSql.execute(spark, "INSERT INTO ggen.t SELECT 10, 2.0, 999") }
    assert(eBad.getMessage.contains("generated_amt_cents"), eBad.getMessage)
    GraftSql.execute(spark, "INSERT INTO ggen.t SELECT 10, 2.0, 200")
    // UPDATE of a source column RECOMPUTES the generated one; SET of
    // the generated column itself refuses
    GraftSql.execute(spark, "UPDATE ggen.t SET amt = amt + 1.0 WHERE id = 10")
    assert(spark.sql("SELECT amt_cents FROM ggen.t WHERE id = 10")
      .collect().head.getLong(0) == 300L)
    val eSet = intercept[Exception] {
      GraftSql.execute(spark, "UPDATE ggen.t SET amt_cents = 7") }
    assert(eSet.getMessage.contains("GENERATED"), eSet.getMessage)
    // MERGE column-level update recomputes too; partial INSERT list
    // computes for new rows
    Seq((10L, 5.0), (20L, 3.5)).toDF("id", "namt")
      .createOrReplaceTempView("ggen_src")
    GraftSql.execute(spark,
      """MERGE INTO ggen.t AS t USING ggen_src AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.amt = s.namt
        |WHEN NOT MATCHED THEN INSERT (id, amt) VALUES (s.id, s.namt)
        |""".stripMargin)
    val r2 = spark.sql("SELECT id, amt_cents FROM ggen.t WHERE id >= 10 ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(r2 == Seq(10L -> 500L, 20L -> 350L), r2.mkString(","))
    GraftSql.execute(spark, "DROP TABLE IF EXISTS ggen.t")
  }

  test("informational key constraints and native TRUNCATE TABLE") {
    import graft.plans.{GraftCatalog, GraftSql}
    val wh = java.nio.file.Files.createTempDirectory("graft_pk_wh_").toString
    spark.conf.set("spark.sql.catalog.gpk", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gpk.warehouse", wh)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gpk.t")
    GraftSql.execute(spark,
      """CREATE TABLE gpk.t (id BIGINT, v STRING) USING `graft-manifest`
        |TBLPROPERTIES ('keys' = 'id')""".stripMargin)
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .createOrReplaceTempView("gpk_src")
    GraftSql.execute(spark, "INSERT INTO gpk.t SELECT * FROM gpk_src")
    // PRIMARY KEY declares informationally (RELY shape); ENFORCED
    // refuses with the at-scale rationale
    spark.sql("ALTER TABLE gpk.t ADD CONSTRAINT pk_id PRIMARY KEY (id) NOT ENFORCED")
    val props = spark.sql("SHOW TBLPROPERTIES gpk.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("info.pk_id").exists(_.contains("PRIMARY KEY")), props)
    val eEnf = intercept[Exception] {
      spark.sql("ALTER TABLE gpk.t ADD CONSTRAINT uq_v UNIQUE (v) ENFORCED") }
    assert(eEnf.getMessage.contains("ENFORCED"), eEnf.getMessage)
    spark.sql("ALTER TABLE gpk.t DROP CONSTRAINT pk_id")
    assert(!spark.sql("SHOW TBLPROPERTIES gpk.t").collect()
      .exists(_.getString(0) == "info.pk_id"))
    // native TRUNCATE TABLE: one atomic commit to the empty view;
    // the table stays writable after
    spark.sql("TRUNCATE TABLE gpk.t")
    assert(spark.sql("SELECT * FROM gpk.t").count() == 0)
    GraftSql.execute(spark, "INSERT INTO gpk.t SELECT * FROM gpk_src")
    assert(spark.sql("SELECT * FROM gpk.t").count() == 2)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gpk.t")
  }

  test("native DELETE FROM on a plain session (SupportsDeleteV2)") {
    import graft.plans.{GraftCatalog, GraftSql}
    val wh = java.nio.file.Files.createTempDirectory("graft_del_wh_").toString
    spark.conf.set("spark.sql.catalog.gdel", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdel.warehouse", wh)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gdel.t")
    GraftSql.execute(spark,
      """CREATE TABLE gdel.t (id BIGINT, v STRING) USING `graft-manifest`
        |TBLPROPERTIES ('keys' = 'id')""".stripMargin)
    (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v")
      .createOrReplaceTempView("gdel_src")
    GraftSql.execute(spark, "INSERT INTO gdel.t SELECT * FROM gdel_src")
    // plain spark.sql — no GraftSql, no extension parser: Spark's own
    // DeleteFromTable routes through SupportsDeleteV2
    spark.sql("DELETE FROM gdel.t WHERE id > 4")
    assert(spark.sql("SELECT id FROM gdel.t").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 4L))
    spark.sql("DELETE FROM gdel.t WHERE v = 'v1' OR v = 'v3'")
    assert(spark.sql("SELECT id FROM gdel.t").as[Long].collect().toSet ==
      Set(2L, 4L))
    // unconditioned DELETE sweeps the table (AlwaysTrue predicate)
    spark.sql("DELETE FROM gdel.t")
    assert(spark.sql("SELECT * FROM gdel.t").count() == 0)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gdel.t")

    // native DELETE on a columnMapping table AFTER a widen-only
    // retype: the merge probe reads the mixed int/long physical files
    // through the explicit widened schema (review-caught omission)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gdel.m")
    GraftSql.execute(spark,
      """CREATE TABLE gdel.m (id BIGINT, v INT) USING `graft-manifest`
        |TBLPROPERTIES ('keys' = 'id', 'columnMapping' = 'true')""".stripMargin)
    spark.range(0, 4).selectExpr("id", "CAST(id AS INT) AS v")
      .createOrReplaceTempView("gdel_msrc")
    GraftSql.execute(spark, "INSERT INTO gdel.m SELECT * FROM gdel_msrc")
    spark.sql("ALTER TABLE gdel.m ALTER COLUMN v TYPE BIGINT")
    spark.sql("SELECT CAST(7 AS BIGINT) AS id, CAST(40000000000 AS BIGINT) AS v")
      .createOrReplaceTempView("gdel_mbig")
    GraftSql.execute(spark, "INSERT INTO gdel.m SELECT * FROM gdel_mbig")
    spark.sql("DELETE FROM gdel.m WHERE id = 2") // native path, mixed files
    assert(spark.sql("SELECT id FROM gdel.m").as[Long].collect().toSet ==
      Set(0L, 1L, 3L, 7L))
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gdel.m")
  }

  test("CREATE OR REPLACE TABLE and writeStream.toTable work natively") {
    import graft.plans.{GraftCatalog, GraftSql}
    val wh = java.nio.file.Files.createTempDirectory("graft_cor_wh_").toString
    spark.conf.set("spark.sql.catalog.gcor", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcor.warehouse", wh)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gcor.a")
    GraftSql.execute(spark,
      "CREATE TABLE gcor.a (id BIGINT) USING `graft-manifest`")
    // CREATE OR REPLACE drops + recreates through the catalog (non-
    // staging: not atomic across the pair, like any non-staging v2
    // catalog — each half is crash-atomic on its own)
    GraftSql.execute(spark,
      "CREATE OR REPLACE TABLE gcor.a (id BIGINT, v STRING) USING `graft-manifest`")
    assert(spark.table("gcor.a").columns.toSeq == Seq("id", "v"))
    // a streaming writer lands micro-batches into a catalog table by
    // NAME — the V2 streaming write (stats-indexed dirs + manifest CAS)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gcor.s")
    GraftSql.execute(spark,
      "CREATE TABLE gcor.s (value BIGINT) USING `graft-manifest`")
    val srcDir = s"$wh/in"
    spark.range(0, 3).toDF("value").write.parquet(s"$srcDir/p1")
    val q = spark.readStream.schema("value LONG").parquet(s"$srcDir/p1")
      .writeStream.option("checkpointLocation", s"$wh/ckpt")
      .toTable("gcor.s")
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("gcor.s").count() == 3)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gcor.a")
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gcor.s")
  }

  test("COPY INTO: idempotent loads, incremental waves, FORCE, survives TRUNCATE") {
    import graft.plans.{GraftCatalog, GraftSql}
    val wh = java.nio.file.Files.createTempDirectory("graft_copy_wh_").toString
    spark.conf.set("spark.sql.catalog.gcp", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcp.warehouse", wh)
    val landing = java.nio.file.Files
      .createTempDirectory("graft_copy_land_").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .repartition(1).write.parquet(s"$landing/w1")
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gcp.cp")
    GraftSql.execute(spark,
      """CREATE TABLE gcp.cp (id BIGINT, v STRING)
        |USING `graft-manifest` TBLPROPERTIES ('keys' = 'id')""".stripMargin)
    val copy = s"COPY INTO gcp.cp FROM '$landing' " +
      "FILEFORMAT = PARQUET PATTERN = '*/*.parquet'"
    def count() = spark.sql("SELECT count(*) FROM gcp.cp").first().getLong(0)
    val r1 = GraftSql.execute(spark, copy).collect()(0)
    assert(r1.getLong(0) == 2 && r1.getLong(1) == 1 && r1.getLong(2) == 0)
    // immediate re-run: a tracked NO-OP, every listed file skipped
    val r2 = GraftSql.execute(spark, copy).collect()(0)
    assert(r2.getLong(0) == 0 && r2.getLong(1) == 0 && r2.getLong(2) == 1)
    assert(count() == 2)
    // a second wave lands between statements: exactly the new files load
    Seq((3L, "c")).toDF("id", "v")
      .repartition(1).write.parquet(s"$landing/w2")
    val r3 = GraftSql.execute(spark, copy).collect()(0)
    assert(r3.getLong(0) == 1 && r3.getLong(1) == 1 && r3.getLong(2) == 1)
    assert(count() == 3)
    // FORCE ignores the tracking and appends everything listed
    val rf = GraftSql.execute(spark,
      copy + " COPY_OPTIONS ('force' = 'true')").collect()(0)
    assert(rf.getLong(0) == 3 && rf.getLong(2) == 0)
    assert(count() == 6)
    // tracking survives TRUNCATE (Delta's rule: a loaded file stays
    // loaded even after its rows are deleted; FORCE is the escape)
    GraftSql.execute(spark, "TRUNCATE TABLE gcp.cp")
    assert(count() == 0)
    val r4 = GraftSql.execute(spark, copy).collect()(0)
    assert(r4.getLong(0) == 0 && r4.getLong(1) == 0 && r4.getLong(2) == 2)
    assert(count() == 0)
    // an unsupported FILEFORMAT refuses loudly; FORMAT_OPTIONS are
    // text-format-only (parquet is self-describing)
    val eFmt = intercept[Exception](GraftSql.execute(spark,
      s"COPY INTO gcp.cp FROM '$landing' FILEFORMAT = AVRO"))
    assert(eFmt.getMessage.contains("PARQUET, CSV, or JSON"))
    val eOpts = intercept[Exception](GraftSql.execute(spark,
      s"COPY INTO gcp.cp FROM '$landing' FILEFORMAT = PARQUET " +
        "FORMAT_OPTIONS ('header' = 'true')"))
    assert(eOpts.getMessage.contains("self-describing"))
    // a file column that is not a table column refuses loudly, before
    // any tracking entry lands
    Seq((9L, "x", 1.0)).toDF("id", "v", "extra")
      .repartition(1).write.parquet(s"$landing/w3")
    val eCol = intercept[Exception](GraftSql.execute(spark, copy))
    assert(eCol.getMessage.contains("extra"))
    // ... so once the bad file is gone, the rest still reconciles
    val w3 = new java.io.File(s"$landing/w3")
    w3.listFiles().foreach(_.delete()); w3.delete()
    val r5 = GraftSql.execute(spark, copy).collect()(0)
    assert(r5.getLong(1) == 0 && r5.getLong(2) == 2)
    // DROP purges the tracking WITH the managed table: a recreated
    // table of the same name must not inherit the dead one's loaded
    // set (caught live: the bench's second pass re-runs the scenario)
    GraftSql.execute(spark, "DROP TABLE gcp.cp")
    GraftSql.execute(spark,
      """CREATE TABLE gcp.cp (id BIGINT, v STRING)
        |USING `graft-manifest` TBLPROPERTIES ('keys' = 'id')""".stripMargin)
    val r6 = GraftSql.execute(spark, copy).collect()(0)
    assert(r6.getLong(0) == 3 && r6.getLong(2) == 0)
    assert(count() == 3)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gcp.cp")
  }

  test("COPY INTO CSV/JSON: declared-schema parse, identity allocates, generated computes") {
    import graft.plans.{GraftCatalog, GraftSql}
    val wh = java.nio.file.Files.createTempDirectory("graft_ctx_wh_").toString
    spark.conf.set("spark.sql.catalog.gct", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gct.warehouse", wh)
    val landing = java.nio.file.Files
      .createTempDirectory("graft_ctx_land_").toString
    // header order differs from table column order — the parse is
    // by NAME against the declared schema, never positional-inferred
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$landing/a.csv"),
      "v,amount\nx,1.5\ny,2.5\n".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$landing/b.json"),
      """{"v":"z","amount":4.0}""".getBytes("UTF-8"))
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gct.t")
    GraftSql.execute(spark,
      """CREATE TABLE gct.t (
        |  id BIGINT GENERATED ALWAYS AS IDENTITY,
        |  v STRING, amount DOUBLE,
        |  twice DOUBLE GENERATED ALWAYS AS (amount * 2)
        |) USING `graft-manifest` TBLPROPERTIES ('keys' = 'v')""".stripMargin)
    GraftSql.execute(spark, s"COPY INTO gct.t FROM '$landing' " +
      "FILEFORMAT = CSV PATTERN = '*.csv' " +
      "FORMAT_OPTIONS ('header' = 'true')")
    GraftSql.execute(spark, s"COPY INTO gct.t FROM '$landing' " +
      "FILEFORMAT = JSON PATTERN = '*.json'")
    val got = spark.sql("SELECT id, v, amount, twice FROM gct.t")
      .collect().map(r => r.getString(1) ->
        ((r.getLong(0), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set("x", "y", "z"), got.toString)
    assert(got("x")._2 == 1.5 && got("x")._3 == 3.0)
    assert(got("z")._2 == 4.0 && got("z")._3 == 8.0)
    // identity allocated distinct values for all three text rows
    assert(got.values.map(_._1).toSet.size == 3, got.toString)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gct.t")
  }

  test("SHALLOW CLONE: zero-copy fork, divergence by DML, source untouched") {
    import graft.plans.{GraftCatalog, GraftSql}
    val wh = java.nio.file.Files.createTempDirectory("graft_cl_wh_").toString
    spark.conf.set("spark.sql.catalog.gcl", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcl.warehouse", wh)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gcl.src")
    GraftSql.execute(spark,
      """CREATE TABLE gcl.src (id BIGINT, v STRING)
        |USING `graft-manifest` TBLPROPERTIES ('keys' = 'id')""".stripMargin)
    GraftSql.execute(spark,
      "INSERT INTO gcl.src VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    GraftSql.execute(spark, "CREATE TABLE gcl.cl SHALLOW CLONE gcl.src")
    def rows(t: String): Map[Long, String] =
      spark.sql(s"SELECT id, v FROM $t").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    // the clone serves the source's snapshot without copying a byte:
    // its own root holds NO data dirs yet
    assert(rows("gcl.cl") == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(!new java.io.File(s"$wh/cl/batch=0").exists())
    // divergence: insert + merge into the CLONE — the source never
    // changes; a source append stays invisible to the clone
    GraftSql.execute(spark, "INSERT INTO gcl.cl VALUES (4, 'd')")
    Seq((2L, "B2"), (9L, "i")).toDF("id", "v")
      .createOrReplaceTempView("gcl_upd")
    GraftSql.execute(spark,
      """MERGE INTO gcl.cl AS t USING gcl_upd AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    GraftSql.execute(spark, "INSERT INTO gcl.src VALUES (7, 'srconly')")
    assert(rows("gcl.cl") ==
      Map(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d", 9L -> "i"))
    assert(rows("gcl.src") ==
      Map(1L -> "a", 2L -> "b", 3L -> "c", 7L -> "srconly"))
    // DELETE works on the clone (clone-manifest copy-on-write)
    GraftSql.execute(spark, "DELETE FROM gcl.cl WHERE id = 1")
    assert(!rows("gcl.cl").contains(1L) && rows("gcl.src").contains(1L))
    // root-scoped verbs refuse on clones, with guidance
    // (clone-of-clone is ALLOWED since round 8 — covered in the
    // snapshot-clone test below)
    val eTr = intercept[Exception](
      GraftSql.execute(spark, "TRUNCATE TABLE gcl.cl"))
    assert(eTr.getMessage.contains("shallow clone"))
    val eZo = intercept[Exception](
      GraftSql.execute(spark, "OPTIMIZE gcl.cl ZORDER BY (id)"))
    assert(eZo.getMessage.contains("materializes"))
    // name collision refuses
    intercept[Exception](
      GraftSql.execute(spark, "CREATE TABLE gcl.cl SHALLOW CLONE gcl.src"))
    // bare OPTIMIZE = MATERIALIZATION: same rows, now owned by the
    // clone's root; the table stops being a clone, so the root-scoped
    // verbs unlock
    val pre = rows("gcl.cl")
    GraftSql.execute(spark, "OPTIMIZE gcl.cl")
    assert(rows("gcl.cl") == pre)
    import scala.jdk.CollectionConverters._
    val ownDirs = new graft.sources.TxnManifest(s"$wh/cl/_commits")
      .committedDirsAll()
    assert(ownDirs.nonEmpty && ownDirs.forall(_.startsWith(s"$wh/cl/")),
      s"materialized manifest still references foreign roots: $ownDirs")
    GraftSql.execute(spark, "TRUNCATE TABLE gcl.cl") // unlocked now
    assert(rows("gcl.cl").isEmpty)
    // DROP of the managed clone keeps the source's data intact
    GraftSql.execute(spark, "DROP TABLE gcl.cl")
    assert(rows("gcl.src").contains(1L))
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gcl.src")
  }

  test("deletion-vector DELETE and UPDATE on a SHALLOW CLONE: clone diverges, source untouched") {
    import graft.plans.{GraftCatalog, GraftSql}
    val wh = java.nio.file.Files.createTempDirectory("graft_dvcl_wh_").toString
    spark.conf.set("spark.sql.catalog.gdvc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdvc.warehouse", wh)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gdvc.src")
    GraftSql.execute(spark,
      """CREATE TABLE gdvc.src (id BIGINT, v STRING)
        |USING `graft-manifest` TBLPROPERTIES ('keys' = 'id')""".stripMargin)
    GraftSql.execute(spark,
      "INSERT INTO gdvc.src VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    GraftSql.execute(spark, "CREATE TABLE gdvc.cl SHALLOW CLONE gdvc.src")
    GraftSql.execute(spark,
      "ALTER TABLE gdvc.cl SET TBLPROPERTIES ('deletionVectors' = 'true')")
    // a sorted row list, not a map: a row the vector failed to hide
    // would show up as a second version of its key
    def rows(t: String): Seq[(Long, String)] =
      spark.sql(s"SELECT id, v FROM $t").as[(Long, String)].collect().toSeq.sorted
    val srcRows = Seq(1L -> "a", 2L -> "b", 3L -> "c")
    // the clone's own root holds nothing yet: the vector names
    // inherited source files
    GraftSql.execute(spark, "DELETE FROM gdvc.cl WHERE id = 2")
    assert(rows("gdvc.cl") == Seq(1L -> "a", 3L -> "c"))
    assert(rows("gdvc.src") == srcRows)
    GraftSql.execute(spark, "UPDATE gdvc.cl SET v = 'X' WHERE id = 1")
    assert(rows("gdvc.cl") == Seq(1L -> "X", 3L -> "c"))
    // with a batch of the clone's own under its root
    GraftSql.execute(spark, "INSERT INTO gdvc.cl VALUES (4, 'd')")
    GraftSql.execute(spark, "DELETE FROM gdvc.cl WHERE id = 3")
    GraftSql.execute(spark, "UPDATE gdvc.cl SET v = 'Y' WHERE id = 4")
    val want = Seq(1L -> "X", 4L -> "Y")
    assert(rows("gdvc.cl") == want)
    assert(rows("gdvc.src") == srcRows)
    // every vector and new version lives under the clone's root
    val clMan = new graft.sources.TxnManifest(s"$wh/cl/_commits")
    assert(clMan.committedDirsAll().filterNot(_.startsWith(s"$wh/src/"))
      .forall(_.startsWith(s"$wh/cl/")))
    // OPTIMIZE materializes the clone through its vectors
    GraftSql.execute(spark, "OPTIMIZE gdvc.cl")
    assert(rows("gdvc.cl") == want)
    assert(clMan.committedDirsAll().forall(_.startsWith(s"$wh/cl/")))
    assert(rows("gdvc.src") == srcRows)
    Seq("cl", "src").foreach(t =>
      GraftSql.execute(spark, s"DROP TABLE IF EXISTS gdvc.$t"))
  }

  test("snapshot clones (VERSION/TIMESTAMP AS OF) and clone-of-clone") {
    import graft.plans.{GraftCatalog, GraftSql}
    val wh = java.nio.file.Files.createTempDirectory("graft_scl_wh_").toString
    spark.conf.set("spark.sql.catalog.gsc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsc.warehouse", wh)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gsc.src")
    GraftSql.execute(spark,
      """CREATE TABLE gsc.src (id BIGINT, v STRING)
        |USING `graft-manifest` TBLPROPERTIES ('keys' = 'id')""".stripMargin)
    GraftSql.execute(spark, "INSERT INTO gsc.src VALUES (1, 'a'), (2, 'b')")
    GraftSql.execute(spark, "INSERT INTO gsc.src VALUES (3, 'c')")
    GraftSql.execute(spark, "UPDATE gsc.src SET v = 'B' WHERE id = 2")
    def rows(t: String): Map[Long, String] =
      spark.sql(s"SELECT id, v FROM $t").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows("gsc.src") == Map(1L -> "a", 2L -> "B", 3L -> "c"))

    // VERSION AS OF 1 = after the first INSERT only
    GraftSql.execute(spark,
      "CREATE TABLE gsc.snap SHALLOW CLONE gsc.src VERSION AS OF 1")
    assert(rows("gsc.snap") == Map(1L -> "a", 2L -> "b"))
    // the snapshot clone diverges independently; head src untouched
    GraftSql.execute(spark, "INSERT INTO gsc.snap VALUES (8, 'h')")
    GraftSql.execute(spark, "UPDATE gsc.snap SET v = 'A' WHERE id = 1")
    assert(rows("gsc.snap") == Map(1L -> "A", 2L -> "b", 8L -> "h"))
    assert(rows("gsc.src") == Map(1L -> "a", 2L -> "B", 3L -> "c"))

    // TIMESTAMP AS OF resolves on the commit clock (epoch-ms form,
    // read back from DESCRIBE HISTORY)
    val tsV2 = GraftSql.execute(spark, "DESCRIBE HISTORY gsc.src")
      .collect().find(_.getLong(0) == 2L).get.getLong(1)
    GraftSql.execute(spark,
      s"CREATE TABLE gsc.tsnap SHALLOW CLONE gsc.src TIMESTAMP AS OF '$tsV2'")
    assert(rows("gsc.tsnap") == Map(1L -> "a", 2L -> "b", 3L -> "c"))

    // clone-of-clone: the child snapshots the parent's UNION view
    GraftSql.execute(spark, "CREATE TABLE gsc.cl SHALLOW CLONE gsc.src")
    GraftSql.execute(spark, "INSERT INTO gsc.cl VALUES (4, 'd')")
    GraftSql.execute(spark, "CREATE TABLE gsc.cl2 SHALLOW CLONE gsc.cl")
    assert(rows("gsc.cl2") ==
      Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d"))
    // grandchild diverges; parent and grandparent untouched
    GraftSql.execute(spark, "UPDATE gsc.cl2 SET v = 'X' WHERE id = 4")
    GraftSql.execute(spark, "DELETE FROM gsc.cl2 WHERE id = 1")
    assert(rows("gsc.cl2") == Map(2L -> "B", 3L -> "c", 4L -> "X"))
    assert(rows("gsc.cl") ==
      Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d"))
    assert(rows("gsc.src") == Map(1L -> "a", 2L -> "B", 3L -> "c"))
    // ... and materializes like any clone
    GraftSql.execute(spark, "OPTIMIZE gsc.cl2")
    val ownDirs = new graft.sources.TxnManifest(s"$wh/cl2/_commits")
      .committedDirsAll()
    assert(ownDirs.forall(_.startsWith(s"$wh/cl2/")), ownDirs.toString)

    // DESCRIBE DETAIL on a clone spans the union view — inherited
    // source dirs included (review-caught: the root filter silently
    // dropped them)
    val clDetail = GraftSql.execute(spark, "DESCRIBE DETAIL gsc.cl")
      .collect()
    assert(clDetail.nonEmpty &&
      clDetail.exists(_.getString(1).contains("/src/")),
      clDetail.map(_.getString(1)).mkString("; "))

    // refusals hold: SNAPSHOT clone of a clone; time travel ON a clone
    val eSnapCl = intercept[Exception](GraftSql.execute(spark,
      "CREATE TABLE gsc.bad SHALLOW CLONE gsc.cl VERSION AS OF 1"))
    assert(eSnapCl.getMessage.contains("materialize"), eSnapCl.getMessage)
    val eTravel = intercept[Exception](
      spark.sql("SELECT * FROM gsc.cl VERSION AS OF 1").collect())
    assert(eTravel.getMessage.contains("materialize"), eTravel.getMessage)
    // the native (non-statement) overwrite path refuses on the union
    // view too — the V1 WriteBuilder truncate guard
    val eOw = intercept[Exception] {
      Seq((9L, "z")).toDF("id", "v").writeTo("gsc.cl")
        .overwrite(org.apache.spark.sql.functions.lit(true))
    }
    assert(eOw.getMessage.contains("clone"), eOw.getMessage)
    Seq("snap", "tsnap", "cl2", "cl", "src").foreach(t =>
      GraftSql.execute(spark, s"DROP TABLE IF EXISTS gsc.$t"))
  }

  test("IDENTITY columns: batch-fenced allocation + rejection matrix") {
    import graft.plans.{GraftCatalog, GraftSql}
    val wh = java.nio.file.Files.createTempDirectory("graft_idn_wh_").toString
    spark.conf.set("spark.sql.catalog.gid", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gid.warehouse", wh)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gid.t")
    GraftSql.execute(spark,
      """CREATE TABLE gid.t (
        |  id BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT, v BIGINT
        |) USING `graft-manifest` TBLPROPERTIES ('keys' = 'k')""".stripMargin)
    spark.range(0, 5).selectExpr("id AS k", "id AS v")
      .createOrReplaceTempView("gid_src")
    GraftSql.execute(spark,
      "INSERT INTO gid.t (k, v) SELECT k, v FROM gid_src")
    GraftSql.execute(spark,
      "INSERT INTO gid.t (k, v) SELECT k + 100, v FROM gid_src")
    val rows = spark.sql("SELECT id, k FROM gid.t").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // unique, default START 1 INCREMENT 1 (first batch ids = 1..),
    // second batch strictly above the first (batch-id high bits)
    assert(rows.length == 10 && rows.map(_._1).distinct.length == 10)
    val (b1, b2) = rows.partition(_._2 < 100)
    assert(b1.map(_._1).min == 1L, rows.toSeq.toString)
    assert(b1.map(_._1).max < b2.map(_._1).min, "batches not monotone")

    // ALWAYS: explicit values refuse — listed, positional, and native
    val eList = intercept[Exception](GraftSql.execute(spark,
      "INSERT INTO gid.t (id, k, v) SELECT k, k, v FROM gid_src"))
    assert(eList.getMessage.contains("GENERATED ALWAYS"), eList.getMessage)
    val ePos = intercept[Exception](GraftSql.execute(spark,
      "INSERT INTO gid.t SELECT k, k, v FROM gid_src"))
    assert(ePos.getMessage.contains("GENERATED ALWAYS"), ePos.getMessage)
    val eNat = intercept[Exception] {
      spark.range(0, 2).selectExpr("id", "id AS k", "id AS v")
        .writeTo("gid.t").append()
    }
    assert(eNat.getMessage.contains("IDENTITY"), eNat.getMessage)
    // UPDATE of the identity column refuses; other columns work
    val eUpd = intercept[Exception](GraftSql.execute(spark,
      "UPDATE gid.t SET id = 0 WHERE k = 1"))
    assert(eUpd.getMessage.contains("IDENTITY"), eUpd.getMessage)
    GraftSql.execute(spark, "UPDATE gid.t SET v = 999 WHERE k = 1")
    assert(spark.sql("SELECT count(*) FROM gid.t WHERE v = 999")
      .head().getLong(0) == 1L)
    // MERGE refuses wholesale
    val eMrg = intercept[Exception](GraftSql.execute(spark,
      """MERGE INTO gid.t AS t USING gid_src AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin))
    assert(eMrg.getMessage.contains("IDENTITY"), eMrg.getMessage)

    // BY DEFAULT: explicit values pass through; omitted allocate
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gid.d")
    GraftSql.execute(spark,
      """CREATE TABLE gid.d (
        |  id BIGINT GENERATED BY DEFAULT AS IDENTITY
        |    (START WITH 10 INCREMENT BY 2),
        |  k BIGINT
        |) USING `graft-manifest` TBLPROPERTIES ('keys' = 'k')""".stripMargin)
    GraftSql.execute(spark,
      "INSERT INTO gid.d (id, k) VALUES (7777, 1), (8888, 2)")
    GraftSql.execute(spark, "INSERT INTO gid.d (k) VALUES (3), (4)")
    val dIds = spark.sql("SELECT id FROM gid.d").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(dIds.contains(7777L) && dIds.contains(8888L) &&
      dIds.count(i => (i - 10) % 2 == 0 && i != 8888L) >= 2, dIds.toString)

    // COPY INTO allocates for files LACKING the identity column
    // (listed-column alignment → fill), and the new ids extend the
    // monotone sequence
    val landing = java.nio.file.Files
      .createTempDirectory("graft_idn_land_").toString
    spark.range(200, 203).selectExpr("id AS k", "id AS v")
      .repartition(1).write.parquet(s"$landing/w1")
    GraftSql.execute(spark,
      s"COPY INTO gid.t FROM '$landing' FILEFORMAT = PARQUET " +
        "PATTERN = '*/*.parquet'")
    val afterCopy = spark.sql("SELECT id, k FROM gid.t").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(afterCopy.length == 13 &&
      afterCopy.map(_._1).distinct.length == 13, afterCopy.toSeq.toString)
    val copied = afterCopy.filter(_._2 >= 200).map(_._1)
    assert(copied.length == 3 && copied.min > b2.map(_._1).max,
      s"copied ids not above prior batches: ${copied.toSeq}")

    // IDENTITY on a columnMapping table: RENAME of the identity
    // column follows into the declared schema, so allocation and the
    // guards keep working under the NEW name (review-caught: a stale
    // declared name silently wrote NULL ids)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gid.m")
    GraftSql.execute(spark,
      """CREATE TABLE gid.m (
        |  id BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT
        |) USING `graft-manifest`
        |TBLPROPERTIES ('keys' = 'k', 'columnMapping' = 'true')""".stripMargin)
    GraftSql.execute(spark, "INSERT INTO gid.m (k) VALUES (1), (2)")
    spark.sql("ALTER TABLE gid.m RENAME COLUMN id TO rid")
    GraftSql.execute(spark, "INSERT INTO gid.m (k) VALUES (3)")
    val mIds = spark.sql("SELECT rid FROM gid.m").collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
    assert(mIds.forall(_.isDefined) && mIds.flatten.distinct.length == 3,
      mIds.toSeq.toString)
    val eRid = intercept[Exception](GraftSql.execute(spark,
      "UPDATE gid.m SET rid = 0 WHERE k = 1"))
    assert(eRid.getMessage.contains("IDENTITY"), eRid.getMessage)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gid.m")

    // allocation overflow fails LOUDLY (checked arithmetic), never
    // wraps into duplicate ids
    val eOvf = intercept[Exception] {
      graft.ops.Ids.fillIdentity(
        spark.range(0, 2).selectExpr("id AS k", "CAST(NULL AS BIGINT) AS i2"),
        "i2", Long.MaxValue - 10, 3L, 5L).collect()
    }
    assert(exceptionChain(eOvf).exists(_.isInstanceOf[ArithmeticException]),
      eOvf.toString)

    // non-BIGINT identity refuses at CREATE
    val eTyp = intercept[Exception](GraftSql.execute(spark,
      """CREATE TABLE gid.bad (
        |  id INT GENERATED ALWAYS AS IDENTITY, k BIGINT
        |) USING `graft-manifest` TBLPROPERTIES ('keys' = 'k')""".stripMargin))
    assert(eTyp.getMessage.contains("BIGINT"), eTyp.getMessage)
    Seq("t", "d").foreach(t =>
      GraftSql.execute(spark, s"DROP TABLE IF EXISTS gid.$t"))
  }

  test("SHOW CREATE TABLE round-trips a catalog table's DDL") {
    import graft.plans.{GraftCatalog, GraftSql}
    val wh = java.nio.file.Files.createTempDirectory("graft_sct_wh_").toString
    spark.conf.set("spark.sql.catalog.gsct", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsct.warehouse", wh)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gsct.t")
    GraftSql.execute(spark,
      """CREATE TABLE gsct.t (id BIGINT, v STRING)
        |USING `graft-manifest` TBLPROPERTIES ('keys' = 'id')""".stripMargin)
    val ddl = spark.sql("SHOW CREATE TABLE gsct.t").first().getString(0)
    // native introspection: schema, provider, and the behavior
    // options all render — the emitted DDL names the right source
    assert(ddl.contains("id BIGINT") && ddl.contains("v STRING"), ddl)
    assert(ddl.contains("USING graft-manifest") ||
      ddl.contains("USING `graft-manifest`"), ddl)
    assert(ddl.contains("'keys' = 'id'"), ddl)
    // DESCRIBE EXTENDED serves the detailed section incl. statistics
    val desc = spark.sql("DESCRIBE EXTENDED gsct.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.get("Type").contains("MANAGED"))
    assert(desc.contains("Statistics"))
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gsct.t")
  }

  test("CopyLog.record: concurrent same-id entry refuses loudly") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_copylog_").toString + "/t"
    graft.sources.CopyLog.record(root, 7, Seq("/f1"))
    val e = intercept[IllegalStateException](
      graft.sources.CopyLog.record(root, 7, Seq("/f2")))
    assert(e.getMessage.contains("b7.list"))
  }

  test("per-session register() exposes the same functions on a live session") {
    SimHash64.register(spark)
    TopKStructs.register(spark)
    Seq((1L, "a b c", 2.0), (2L, "a b c", 7.0))
      .toDF("id", "text", "m").createOrReplaceTempView("live_docs")
    val r = spark.sql(
      """SELECT count(DISTINCT simhash64(text)) AS nh,
        |       transform(top_k(struct(m, id), 1, true), x -> x.id) AS best
        |FROM live_docs""".stripMargin).collect().head
    assert(r.getLong(0) == 1L)
    assert(r.getSeq[Long](1) == Seq(2L))
  }

  test("MERGE ... WITH SCHEMA EVOLUTION: per-statement opt-in (Delta parity)") {
    import graft.plans.{GraftSql, GraftSqlTables}
    import graft.sources.{Sinks, TxnManifest}
    val tmp = java.nio.file.Files.createTempDirectory("mwse_").toString
    val root = s"$tmp/t"
    val man = new TxnManifest(s"$tmp/_commits")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$root/batch=0")
    man.commit(0, Seq(s"$root/batch=0"))
    GraftSqlTables.register("mwse_t",
      GraftSqlTables.Entry(root, s"$tmp/_commits", keys = Seq("id")))
    Seq((2L, "B", 9L), (5L, "E", 7L)).toDF("id", "v", "extra")
      .createOrReplaceTempView("mwse_src")
    // WITHOUT the clause (and without the registration opt-in) the
    // source-only column projects away — Delta's default
    GraftSql.execute(spark,
      "MERGE INTO mwse_t USING mwse_src ON mwse_t.id = mwse_src.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(Sinks.readCommitted(spark, root, man).columns.toSeq ==
      Seq("id", "v"), "source-only column must not evolve without the clause")
    // WITH SCHEMA EVOLUTION: this statement evolves the table —
    // `extra` lands, kept rows serve NULL for it
    GraftSql.execute(spark,
      "MERGE WITH SCHEMA EVOLUTION INTO mwse_t USING mwse_src " +
        "ON mwse_t.id = mwse_src.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val after = Sinks.readCommitted(spark, root, man)
    assert(after.columns.toSet == Set("id", "v", "extra"),
      after.columns.mkString(","))
    val byId = after.collect()
      .map(r => r.getLong(0) -> Option(r.get(after.columns.indexOf("extra"))))
      .toMap
    assert(byId(2L).contains(9L) && byId(5L).contains(7L) && byId(1L).isEmpty)
    GraftSqlTables.unregister("mwse_t")
  }

  test("IDENTITY columns are implicitly NOT NULL: explicit NULLs refuse") {
    import graft.plans.{GraftCatalog, GraftSql}
    val wh = java.nio.file.Files.createTempDirectory("graft_idnn_wh_").toString
    spark.conf.set("spark.sql.catalog.ginn", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ginn.warehouse", wh)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS ginn.t")
    GraftSql.execute(spark,
      """CREATE TABLE ginn.t (
        |  id BIGINT GENERATED BY DEFAULT AS IDENTITY, k BIGINT
        |) USING `graft-manifest` TBLPROPERTIES ('keys' = 'k')""".stripMargin)
    // explicit non-null values pass (BY DEFAULT)
    GraftSql.execute(spark,
      "INSERT INTO ginn.t (id, k) VALUES (100, 1), (101, 2)")
    // a NULL id would quietly void the uniqueness contract — refuse
    val e = intercept[Exception](GraftSql.execute(spark,
      "INSERT INTO ginn.t (id, k) VALUES (CAST(NULL AS BIGINT), 3)"))
    assert(e.getMessage.contains("NOT NULL"), e.getMessage)
    // ... on the native V1 write path too
    val e2 = intercept[Exception] {
      spark.sql("SELECT CAST(NULL AS BIGINT) AS id, 4L AS k")
        .writeTo("ginn.t").append()
    }
    assert(e2.getMessage != null && (e2.getMessage.contains("NOT NULL") ||
      Option(e2.getCause).exists(_.getMessage.contains("NOT NULL"))),
      e2.toString)
    assert(spark.sql("SELECT count(*) FROM ginn.t").collect().head.getLong(0) == 2)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS ginn.t")
  }

  test("ADD COLUMN on a PLAIN table is metadata-only (no columnMapping needed)") {
    import graft.plans.{GraftCatalog, GraftSql}
    val wh = java.nio.file.Files.createTempDirectory("graft_gadd_wh_").toString
    spark.conf.set("spark.sql.catalog.gadd", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gadd.warehouse", wh)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gadd.t")
    GraftSql.execute(spark,
      """CREATE TABLE gadd.t (id BIGINT, v STRING) USING `graft-manifest`
        |TBLPROPERTIES ('keys' = 'id')""".stripMargin)
    spark.range(0, 10).selectExpr("id", "concat('v', id) AS v")
      .createOrReplaceTempView("gadd_src")
    GraftSql.execute(spark, "INSERT INTO gadd.t SELECT * FROM gadd_src")
    val before = new java.io.File(s"$wh/t/batch=0").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toMap
    spark.sql("ALTER TABLE gadd.t ADD COLUMN score DOUBLE")
    val after = new java.io.File(s"$wh/t/batch=0").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toMap
    assert(before == after, "ADD COLUMN touched data files")
    // served immediately, NULL for every existing row
    val r0 = spark.sql("SELECT id, score FROM gadd.t WHERE id = 3")
      .collect().head
    assert(r0.isNullAt(1), r0.toString)
    // DML sees the new column before any file carries it
    GraftSql.execute(spark, "UPDATE gadd.t SET score = 1.5 WHERE id = 3")
    // positional INSERT now takes the full 3-column shape
    spark.sql("SELECT 100L AS id, 'n' AS v, 2.5 AS score")
      .createOrReplaceTempView("gadd_src2")
    GraftSql.execute(spark, "INSERT INTO gadd.t SELECT * FROM gadd_src2")
    val got = spark.sql("SELECT id, score FROM gadd.t").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(3L).contains(1.5) && got(100L).contains(2.5) &&
      got(0L).isEmpty, got.toString)
    assert(got.size == 11)
    // duplicate add refuses; rename still needs the mapping
    val eDup = intercept[Exception](
      spark.sql("ALTER TABLE gadd.t ADD COLUMN score DOUBLE"))
    assert(exMessageChain2(eDup).exists(_.contains("already exists")),
      eDup.getMessage)
    val eRen = intercept[Exception](
      spark.sql("ALTER TABLE gadd.t RENAME COLUMN v TO w"))
    assert(exMessageChain2(eRen).exists(_.contains("columnMapping")),
      eRen.getMessage)
    // NOT NULL additions refuse (existing rows would all serve NULL)
    val eNn = intercept[Exception](
      spark.sql("ALTER TABLE gadd.t ADD COLUMN req BIGINT NOT NULL"))
    assert(exMessageChain2(eNn).exists(_.contains("NOT NULL")),
      eNn.getMessage)
    // ... and ADD COLUMN serves on SHALLOW CLONES too (the clone's
    // union schema overlays declared-only columns)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gadd.fork")
    GraftSql.execute(spark,
      "CREATE TABLE gadd.fork SHALLOW CLONE gadd.t")
    spark.sql("ALTER TABLE gadd.fork ADD COLUMN tag STRING")
    val forkRow = spark.sql(
      "SELECT score, tag FROM gadd.fork WHERE id = 3").collect().head
    assert(forkRow.getDouble(0) == 1.5 && forkRow.isNullAt(1),
      forkRow.toString)
    GraftSql.execute(spark, "UPDATE gadd.fork SET tag = 'x' WHERE id = 3")
    assert(spark.sql("SELECT tag FROM gadd.fork WHERE id = 3")
      .collect().head.getString(0) == "x")
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gadd.fork")
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gadd.t")
  }

  /** Messages of a throwable and its cause chain. */
  private def exMessageChain2(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
      .flatMap(e => Option(e.getMessage)).toSeq

  test("RENAME guard catches backtick-quoted references in stored expressions") {
    import graft.plans.{GraftCatalog, GraftSql}
    val wh = java.nio.file.Files.createTempDirectory("graft_btk_wh_").toString
    spark.conf.set("spark.sql.catalog.gbtk", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbtk.warehouse", wh)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gbtk.m")
    GraftSql.execute(spark,
      """CREATE TABLE gbtk.m (id BIGINT, v DOUBLE) USING `graft-manifest`
        |TBLPROPERTIES ('keys' = 'id', 'columnMapping' = 'true')""".stripMargin)
    // the constraint references the column BACKTICK-QUOTED: the guard
    // must still see it (pre-fix, the quoted form slipped past the
    // word-boundary regex and the rename orphaned the stored SQL)
    spark.sql("ALTER TABLE gbtk.m ADD CONSTRAINT vpos CHECK (`v` > 0)")
    val e = intercept[Exception](
      spark.sql("ALTER TABLE gbtk.m RENAME COLUMN v TO w"))
    assert(e.getMessage.contains("cannot RENAME"), e.getMessage)
    // dropping the constraint unblocks the rename
    spark.sql("ALTER TABLE gbtk.m DROP CONSTRAINT vpos")
    spark.sql("ALTER TABLE gbtk.m RENAME COLUMN v TO w")
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gbtk.m")
  }
  test("materialized views persist in the catalog: fresh-registry lifecycle") {
    import org.apache.spark.sql.functions._
    import graft.plans.{GraftMvs, GraftSql, GraftSqlTables}
    import graft.sources.{StatsSinks, TxnManifest}
    // a dedicated catalog+warehouse so the .mv residency is observable
    val wh = java.nio.file.Files.createTempDirectory("graft_mvper_wh_").toString
    spark.conf.set("spark.sql.catalog.mvper",
      classOf[graft.plans.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.mvper.warehouse", wh)
    try {
      val base = java.nio.file.Files.createTempDirectory("graft_mvper_").toString
      val root = s"$base/src"
      val man = new TxnManifest(s"$base/manifest.tsv")
      StatsSinks.appendBatchStats(spark.range(300).select(col("id"),
        (col("id") % 5).cast("int").as("grp"), (col("id") * 2).as("v")),
        root, 0)
      man.commit(0, Seq(s"$root/batch=0"))
      GraftSqlTables.register("mvper_src", GraftSqlTables.Entry(root,
        s"$base/manifest.tsv", keys = Seq("id"), cdf = true))
      GraftSql.execute(spark,
        s"CREATE MATERIALIZED VIEW mvper_mv LOCATION '$base/mv' AS " +
          "SELECT grp, count(*) AS n, sum(v) AS sv FROM mvper_src GROUP BY grp")
      GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mvper_mv")
      // the registration landed as one catalog file
      assert(new java.io.File(s"$wh/_catalog/mvper_mv.mv").isFile,
        "CREATE must persist the name\u2192location entry in the catalog")

      // fresh-session simulation: wipe the in-memory registry; the
      // catalog alone must keep the view addressable
      GraftMvs.clearInMemory()
      assert(GraftMvs.lookup("mvper_mv").exists(_ == s"$base/mv"),
        "a fresh registry must resolve the view through the catalog")
      val shown = GraftSql.execute(spark, "SHOW MATERIALIZED VIEWS")
        .collect().map(r => (r.getString(0), r.getBoolean(3))).toMap
      assert(shown.get("mvper_mv").contains(true),
        s"SHOW must list the persisted view as fresh: $shown")
      // the transparent rewrite serves from the persisted registration
      val served = GraftSql.execute(spark,
        "SELECT grp, count(*) AS n FROM mvper_src GROUP BY grp")
      assert(!served.queryExecution.executedPlan.toString.contains(root),
        "the rewrite must serve a catalog-persisted fresh view")
      // REFRESH ALL walks the catalog too
      GraftSql.execute(spark, "DELETE FROM mvper_src WHERE id % 4 = 1")
      val sweep = GraftSql.execute(spark, "REFRESH ALL MATERIALIZED VIEWS")
        .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
      assert(sweep.get("mvper_mv").contains(true), s"sweep: $sweep")
      val got = GraftMvs.read(spark, "mvper_mv")
        .agg(sum("n")).collect().head.getLong(0)
      assert(got == 225, s"persisted view must refresh to 225 rows, got $got")

      // racing re-CREATE of a live name fails loudly
      val ex = intercept[Exception](GraftSql.execute(spark,
        s"CREATE MATERIALIZED VIEW mvper_mv LOCATION '$base/mv2' AS " +
          "SELECT grp, count(*) AS n FROM mvper_src GROUP BY grp"))
      assert(ex.getMessage.contains("already exists"))

      // DROP removes the catalog entry; a fresh registry sees nothing
      GraftSql.execute(spark, "DROP MATERIALIZED VIEW mvper_mv")
      assert(!new java.io.File(s"$wh/_catalog/mvper_mv.mv").exists(),
        "DROP must delete the catalog entry")
      GraftMvs.clearInMemory()
      assert(GraftMvs.lookup("mvper_mv").isEmpty)
    } finally {
      spark.conf.unset("spark.sql.catalog.mvper")
      spark.conf.unset("spark.sql.catalog.mvper.warehouse")
    }
  }

  test("qtile_* SQL functions: per-group sketches merge and answer within ε·n ranks") {
    withExtensionSession { s =>
      import org.apache.spark.sql.functions.col
      s.range(10000).select(col("id"),
        (col("id") % 2).cast("int").as("half"),
        (col("id") * 17 % 4001).cast("double").as("v"))
        .createOrReplaceTempView("qt_src")
      // build one sketch per half, union them with qtile_merge, ask
      // the median of the WHOLE distribution — the mergeability that
      // lets per-shard sketches at 100 TB combine on the driver side
      val est = s.sql(
        """SELECT qtile_estimate(
          |  qtile_merge(min(CASE WHEN half = 0 THEN sk END),
          |              min(CASE WHEN half = 1 THEN sk END)), 0.5) AS med
          |FROM (SELECT half, qtile_sketch_agg(v) AS sk
          |      FROM qt_src GROUP BY half)""".stripMargin)
        .collect().head.getDouble(0)
      val sorted = s.sql("SELECT v FROM qt_src ORDER BY v")
        .collect().map(_.getDouble(0))
      val lo = sorted.count(_ < est); val hi = sorted.count(_ <= est)
      val target = 0.5 * sorted.length
      val slack = 0.01 * sorted.length + 1
      assert(hi >= target - slack && lo <= target + slack,
        s"merged-sketch median $est at ranks ($lo, $hi] misses " +
          s"$target ± $slack")
      // NULL absorbs in qtile_merge; the empty sketch estimates NULL
      val row = s.sql(
        """SELECT qtile_estimate(qtile_merge(sk, NULL), 0.5) AS a,
          |       qtile_estimate(esk, 0.5) AS b
          |FROM (SELECT qtile_sketch_agg(v) AS sk,
          |             qtile_sketch_agg(CAST(NULL AS DOUBLE)) AS esk
          |      FROM qt_src)""".stripMargin)
        .collect().head
      assert(!row.isNullAt(0) && row.isNullAt(1))
    }
  }

  test("MAX_STALENESS: opt-in bounded-stale serving; default stays stale-never-serves") {
    import graft.plans.{GraftSql, GraftSqlTables}
    import graft.sources.{StatsSinks, TxnManifest}
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files
      .createTempDirectory("graft_mvstale_").toString
    val root = s"$base/src"
    val man = new TxnManifest(s"$base/manifest.tsv")
    StatsSinks.appendBatchStats(spark.range(1000).select(col("id"),
      (col("id") % 5).cast("int").as("grp")), root, 0)
    man.commit(0, Seq(s"$root/batch=0"))
    GraftSqlTables.register("mvstale_src", GraftSqlTables.Entry(root,
      s"$base/manifest.tsv", keys = Seq("id"), cdf = true))
    val q = "SELECT grp, count(*) AS n FROM mvstale_src GROUP BY grp"
    def planServes(): Boolean = !GraftSql.execute(spark, q)
      .queryExecution.executedPlan.toString.contains(root)

    // opt-in: within the bound, a STALE view still serves — the
    // last-refresh contents, not the current base
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_stale LOCATION '$base/mv' " +
        s"MAX_STALENESS INTERVAL '1' HOURS AS $q")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_stale")
    assert(planServes(), "fresh bounded view must serve")
    val atRefresh = GraftSql.execute(spark, q).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    GraftSql.execute(spark, "DELETE FROM mvstale_src WHERE id % 3 = 1")
    assert(planServes(),
      "stale-but-within-bound view must keep serving")
    val servedStale = GraftSql.execute(spark, q).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(servedStale == atRefresh,
      "bounded-stale serve must return the LAST-REFRESH contents")

    // out of bound: shrink the bound below the view's age — declines
    GraftSql.execute(spark, "ALTER MATERIALIZED VIEW mv_stale " +
      "SET MAX_STALENESS INTERVAL '1' SECONDS")
    Thread.sleep(1500)
    assert(!planServes(), "past the bound the view must decline")
    val fromBase = GraftSql.execute(spark, q).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(fromBase != atRefresh, "vanilla execution sees the DELETE")

    // CLEAR restores the default stale-never-serves
    GraftSql.execute(spark,
      "ALTER MATERIALIZED VIEW mv_stale CLEAR MAX_STALENESS")
    assert(!planServes(), "with no bound a stale view never serves")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_stale")
    assert(planServes(), "refreshed view serves again")
    assert(GraftSql.execute(spark, q).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap == fromBase)
    // DESCRIBE surfaces the bound while set
    GraftSql.execute(spark, "ALTER MATERIALIZED VIEW mv_stale " +
      "SET MAX_STALENESS INTERVAL '5' MINUTES")
    val desc = GraftSql.execute(spark,
      "DESCRIBE MATERIALIZED VIEW mv_stale")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("max_staleness_ms") == (5 * 60 * 1000L).toString)
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_stale")
  }

  test("MAX_STALENESS across chains + REFRESH ALL WITHIN STALENESS") {
    import graft.plans.{GraftSql, GraftSqlTables}
    import graft.sources.{StatsSinks, TxnManifest}
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files
      .createTempDirectory("graft_mvchstale_").toString
    val root = s"$base/src"
    val man = new TxnManifest(s"$base/manifest.tsv")
    StatsSinks.appendBatchStats(spark.range(2000).select(col("id"),
      (col("id") % 100).cast("int").as("g100"),
      (col("id") % 10).cast("int").as("g10")), root, 0)
    man.commit(0, Seq(s"$root/batch=0"))
    GraftSqlTables.register("chstale_src", GraftSqlTables.Entry(root,
      s"$base/manifest.tsv", keys = Seq("id"), cdf = true))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_chst_child LOCATION '$base/mv1' AS " +
        "SELECT g100, g10, count(*) AS n FROM chstale_src " +
        "GROUP BY g100, g10")
    val pq = "SELECT g10, sum(n) AS n FROM mv_chst_child GROUP BY g10"
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_chst_par LOCATION '$base/mv2' " +
        s"MAX_STALENESS INTERVAL '1' HOURS AS $pq")
    GraftSql.execute(spark, "REFRESH ALL MATERIALIZED VIEWS")
    def parentServes(): Boolean = !GraftSql.execute(spark, pq)
      .queryExecution.executedPlan.toString.contains(s"$base/mv1")
    assert(parentServes(), "fresh chained parent must serve")
    val atRefresh = GraftSql.execute(spark, pq).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

    // the child advances (insert + its own refresh): the parent is
    // now UNFRESH, but its own declared bound governs serve — the
    // parent's last refresh is within 1 hour, so it keeps serving
    // its last-refreshed contents (chain-staleness semantics: the
    // PARENT's refresh clock, never the child's, owns the bound)
    StatsSinks.appendBatchStats(spark.range(2000, 2400).select(col("id"),
      (col("id") % 100).cast("int").as("g100"),
      (col("id") % 10).cast("int").as("g10")), root, 1)
    man.commit(1, Seq(s"$root/batch=1"))
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_chst_child")
    assert(parentServes(),
      "chained parent within its bound must serve after the child advances")
    assert(GraftSql.execute(spark, pq).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap == atRefresh,
      "bounded-stale chained parent serves LAST-REFRESH contents")

    // REFRESH ALL WITHIN STALENESS skips the servable parent (bound
    // not lapsed) — it stays stale
    val sweep = GraftSql.execute(spark,
      "REFRESH ALL MATERIALIZED VIEWS WITHIN STALENESS").collect()
      .map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(!sweep("mv_chst_par"),
      "WITHIN STALENESS must skip a parent inside its bound")
    assert(GraftSql.execute(spark, pq).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap == atRefresh,
      "skipped parent still serves last-refresh contents")

    // bound lapses → the sweep now refreshes it and it catches up
    GraftSql.execute(spark, "ALTER MATERIALIZED VIEW mv_chst_par " +
      "SET MAX_STALENESS INTERVAL '1' SECONDS")
    Thread.sleep(1500)
    assert(!parentServes(), "past the bound the parent declines")
    val sweep2 = GraftSql.execute(spark,
      "REFRESH ALL MATERIALIZED VIEWS WITHIN STALENESS").collect()
      .map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(sweep2("mv_chst_par"),
      "WITHIN STALENESS must refresh a view past its bound")
    assert(parentServes(), "caught-up parent serves again")
    val after = GraftSql.execute(spark, pq).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(after.values.sum == 2400,
      s"caught-up parent must see the child's advance: $after")
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_chst_par")
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_chst_child")
  }
}
