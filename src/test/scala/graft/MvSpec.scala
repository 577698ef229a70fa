package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.{GraftMvs, GraftSql, GraftSqlTables}
import graft.sources.{Sinks, StatsSinks, TxnManifest}

/** Incremental materialized views ([[graft.plans.GraftMvs]]): the
  * refreshed view must equal Spark's own aggregate over the CURRENT
  * source — after appends, updates, deletes, group birth and group
  * death — while additive refreshes never read the base table. */
class MvSpec extends SparkSuite {
  import spark.implicits._

  private def tempBase(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_mv_$tag").toString

  /** Register a CDF-enabled source table seeded with `rows`. */
  private def newSource(tag: String, rows: DataFrame): (String, String, TxnManifest) = {
    val base = tempBase(tag)
    val root = s"$base/src"
    val man = new TxnManifest(s"$base/manifest.tsv")
    StatsSinks.appendBatchStats(rows, root, 0)
    man.commit(0, Seq(s"$root/batch=0"))
    GraftSqlTables.register(s"mv_${tag}_src", GraftSqlTables.Entry(root,
      s"$base/manifest.tsv", keys = Seq("id"), cdf = true))
    (s"mv_${tag}_src", base, man)
  }

  private def seed(n: Int): DataFrame =
    spark.range(n).select(col("id"),
      (col("id") % 4).cast("int").as("grp"),
      when(col("id") % 7 === 0, lit(null).cast("long"))
        .otherwise(col("id") * 3).as("m"),
      (col("id") % 100).cast("decimal(12,2)").as("d"))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("additive MV: bootstrap, DML delta, group death — equals direct aggregate") {
    val (src, base, man) = newSource("add", seed(200))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_add LOCATION '$base/mv' AS " +
        s"SELECT grp, count(*) AS n, count(m) AS nm, sum(m) AS sm, " +
        s"sum(d) AS sd, avg(m) AS am FROM $src WHERE id % 10 != 9 GROUP BY grp")
    def expected: DataFrame = {
      val e = GraftSqlTables.lookup(Seq(src)).get
      Sinks.readCommitted(spark, e.root, new TxnManifest(e.manifestPath))
        .where("id % 10 != 9").groupBy("grp")
        .agg(count(lit(1)).as("n"), count(col("m")).as("nm"),
          sum("m").as("sm"), sum("d").as("sd"), avg("m").as("am"))
    }
    val r1 = GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_add")
      .collect().head
    assert(r1.getBoolean(2), "bootstrap refresh must apply")
    assert(sortedRows(GraftMvs.read(spark, "mv_add")) == sortedRows(expected))
    assert(GraftMvs.read(spark, "mv_add").schema.map(f => (f.name, f.dataType))
      == expected.schema.map(f => (f.name, f.dataType)),
      "served types must match Spark's own aggregate types")

    // delta wave: append a new group (grp arrives only via id range),
    // update some measures, delete others — all CDF-recorded
    val e = GraftSqlTables.lookup(Seq(src)).get
    StatsSinks.appendBatchStats(seed(260).where("id >= 200"), e.root, 1)
    man.commit(1, Seq(s"${e.root}/batch=1"))
    GraftSql.execute(spark, s"UPDATE $src SET m = m + 1000 WHERE id % 11 = 3")
    GraftSql.execute(spark, s"DELETE FROM $src WHERE id % 13 = 5")
    val r2 = GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_add")
      .collect().head
    assert(r2.getBoolean(2) && r2.getInt(0) == 0 && r2.getInt(1) == 3)
    assert(sortedRows(GraftMvs.read(spark, "mv_add")) == sortedRows(expected))

    // group death: remove every remaining grp=2 row
    GraftSql.execute(spark, s"DELETE FROM $src WHERE grp = 2")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_add")
    val after = GraftMvs.read(spark, "mv_add")
    assert(after.where("grp = 2").count() == 0, "dead group must vanish")
    assert(sortedRows(after) == sortedRows(expected))

    // no-op refresh: applied=false and the MV manifest does not move
    val mvMan = new TxnManifest(s"$base/mv/manifest.tsv")
    val v = mvMan.version()
    val r3 = GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_add")
      .collect().head
    assert(!r3.getBoolean(2) && mvMan.version() == v,
      "a no-op refresh must commit nothing")
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_add")
  }

  test("additive refresh cost is O(delta), never a base-table scan") {
    val (src, base, man) = newSource("blind", seed(20000))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_blind LOCATION '$base/mv' AS " +
        s"SELECT grp, count(*) AS n, sum(m) AS sm FROM $src GROUP BY grp")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_blind")
    // 50-row delta against a 20000-row base: the refresh may read the
    // delta and the touched MV groups, but a base scan would show up
    // as ≥20000 records read
    val e = GraftSqlTables.lookup(Seq(src)).get
    StatsSinks.appendBatchStats(seed(20050).where("id >= 20000"), e.root, 1)
    man.commit(1, Seq(s"${e.root}/batch=1"))
    val recordsRead = RecordsRead.during(spark) {
      GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_blind")
    }
    assert(recordsRead < 2000,
      s"incremental refresh read ${recordsRead} records — the " +
        "20000-row base table must not be scanned")
    val got = GraftMvs.read(spark, "mv_blind")
      .agg(sum("n")).collect().head.getLong(0)
    assert(got == 20050, s"expected 20050 rows counted, got $got")
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_blind")
  }

  test("additive refresh reads its delta once") {
    val (src, base, man) = newSource("once", seed(4000))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_once LOCATION '$base/mv' AS " +
        s"SELECT grp, count(*) AS n, sum(m) AS sm FROM $src GROUP BY grp")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_once")
    // a known delta: 1000 appended rows, which the feed serves as inserts
    val e = GraftSqlTables.lookup(Seq(src)).get
    StatsSinks.appendBatchStats(seed(5000).where("id >= 4000"), e.root, 1)
    man.commit(1, Seq(s"${e.root}/batch=1"))
    val groups = GraftMvs.read(spark, "mv_once").count()
    val recordsRead = RecordsRead.during(spark) {
      GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_once")
    }
    // one read of the feed; the rest is the store's groups: the state
    // join, the merge's first pass and its rewrite read them from
    // parquet, and its pinned frame (a source and a stored row per
    // group) is re-read from the cache by the checks and the two writes.
    // A second read of the feed would add 1000
    assert(recordsRead <= 1000 + 10 * groups,
      s"refresh read $recordsRead records for a 1000-row delta over $groups groups")
    assert(sortedRows(GraftMvs.read(spark, "mv_once")) == sortedRows(
      Sinks.readCommitted(spark, e.root, man).groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("m").as("sm"))))
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_once")
  }

  test("recompute MV (min/max): delete of a group's max and a whole group") {
    val (src, base, _) = newSource("mm", seed(100))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_mm LOCATION '$base/mv' AS " +
        s"SELECT grp, min(m) AS mn, max(m) AS mx, count(*) AS n, " +
        s"sum(m) AS sm FROM $src GROUP BY grp")
    def expected: DataFrame = {
      val e = GraftSqlTables.lookup(Seq(src)).get
      Sinks.readCommitted(spark, e.root, new TxnManifest(e.manifestPath))
        .groupBy("grp").agg(min("m").as("mn"), max("m").as("mx"),
          count(lit(1)).as("n"), sum("m").as("sm"))
    }
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_mm")
    assert(sortedRows(GraftMvs.read(spark, "mv_mm")) == sortedRows(expected))

    // the current max of grp=3 is id=99 → m=297; delete it
    GraftSql.execute(spark, s"DELETE FROM $src WHERE id = 99")
    // and kill grp=1 entirely
    GraftSql.execute(spark, s"DELETE FROM $src WHERE grp = 1")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_mm")
    val got = GraftMvs.read(spark, "mv_mm")
    assert(got.where("grp = 1").count() == 0)
    assert(sortedRows(got) == sortedRows(expected))
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_mm")
  }

  test("min/max MV: insert-only delta folds without reading the base") {
    val (src, base, man) = newSource("mmf", seed(20000))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_mmf LOCATION '$base/mv' AS " +
        s"SELECT grp, min(m) AS mn, max(m) AS mx, count(*) AS n, " +
        s"sum(m) AS sm FROM $src GROUP BY grp")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_mmf")
    def expected: DataFrame = {
      val e = GraftSqlTables.lookup(Seq(src)).get
      Sinks.readCommitted(spark, e.root, new TxnManifest(e.manifestPath))
        .groupBy("grp").agg(min("m").as("mn"), max("m").as("mx"),
          count(lit(1)).as("n"), sum("m").as("sm"))
    }
    // 50-row append: every touched group's delta is insert-only, so
    // min/max FOLD (least/greatest against the stored extremes) and
    // the 20000-row base is never scanned
    val e = GraftSqlTables.lookup(Seq(src)).get
    StatsSinks.appendBatchStats(seed(20050).where("id >= 20000"), e.root, 1)
    man.commit(1, Seq(s"${e.root}/batch=1"))
    val recordsRead = RecordsRead.during(spark) {
      GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_mmf")
    }
    assert(recordsRead < 2000,
      s"insert-only min/max refresh read ${recordsRead} records — " +
        "the 20000-row base table must not be scanned")
    assert(sortedRows(GraftMvs.read(spark, "mv_mmf")) == sortedRows(expected))

    // a delete sends ONLY its group to the recompute arm; the other
    // groups' deltas (one also gets inserts) still fold
    GraftSql.execute(spark, s"DELETE FROM $src WHERE grp = 2 AND m >= 59900")
    val b3 = new TxnManifest(e.manifestPath).committed().keys.max + 1
    StatsSinks.appendBatchStats(
      seed(20060).where("id >= 20050 AND id % 4 = 1"), e.root, b3)
    man.commit(b3, Seq(s"${e.root}/batch=$b3"))
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_mmf")
    assert(sortedRows(GraftMvs.read(spark, "mv_mmf")) == sortedRows(expected))
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_mmf")
  }

  test("CREATE refusals name the unsupported shape") {
    val (src, base, _) = newSource("bad", seed(10))
    def refuse(select: String, frag: String): Unit = {
      val ex = intercept[Exception](GraftSql.execute(spark,
        s"CREATE MATERIALIZED VIEW mv_bad LOCATION '$base/mv' AS $select"))
      assert(ex.getMessage != null && ex.getMessage.contains(frag),
        s"message '${ex.getMessage}' should mention '$frag'")
    }
    refuse(s"SELECT grp, sum(m) FROM $src GROUP BY grp", "alias every aggregate")
    refuse(s"SELECT grp, sum(DISTINCT m) AS n FROM $src GROUP BY grp",
      "DISTINCT")
    refuse(s"SELECT grp, first(m) AS f FROM $src GROUP BY grp", "first")
    refuse(s"SELECT grp, m FROM $src", "GROUP BY")
    refuse(s"SELECT a.grp, count(*) AS n FROM $src a JOIN $src b " +
      "ON a.id = b.id GROUP BY a.grp", "self-join")
    refuse(s"SELECT grp, sum(m) AS __s FROM $src GROUP BY grp", "internal")
    val ex = intercept[Exception](GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_bad LOCATION '$base/mv' AS " +
        "SELECT x, count(*) AS n FROM not_a_table GROUP BY x"))
    assert(ex.getMessage.contains("not a registered"))

    // IF NOT EXISTS / IF EXISTS conveniences
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW IF EXISTS mv_ine")
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW IF NOT EXISTS mv_ine LOCATION " +
        s"'$base/ine' AS SELECT grp, count(*) AS n FROM $src GROUP BY grp")
    GraftSql.execute(spark, // second create: no-op, original wins
      s"CREATE MATERIALIZED VIEW IF NOT EXISTS mv_ine LOCATION " +
        s"'$base/other' AS SELECT grp, count(*) AS n FROM $src GROUP BY grp")
    assert(GraftMvs.lookup("mv_ine").exists(_.endsWith("/ine")))
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW IF EXISTS mv_ine")
    assert(GraftMvs.lookup("mv_ine").isEmpty)
  }

  test("count(DISTINCT) MV maintains through recompute mode") {
    val (src, base, _) = newSource("cd", seed(300))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_cd LOCATION '$base/mv' AS " +
        s"SELECT grp, count(DISTINCT d) AS dd, count(*) AS n " +
        s"FROM $src GROUP BY grp")
    def expected: DataFrame = {
      val e = GraftSqlTables.lookup(Seq(src)).get
      Sinks.readCommitted(spark, e.root, new TxnManifest(e.manifestPath))
        .groupBy("grp")
        .agg(countDistinct(col("d")).as("dd"), count(lit(1)).as("n"))
    }
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_cd")
    assert(sortedRows(GraftMvs.read(spark, "mv_cd")) == sortedRows(expected))
    // deletes that remove SOME occurrences of shared d values (d has
    // duplicates within a group) and updates that collapse values
    GraftSql.execute(spark, s"DELETE FROM $src WHERE id < 40")
    GraftSql.execute(spark, s"UPDATE $src SET d = 0 WHERE id % 17 = 3")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_cd")
    assert(sortedRows(GraftMvs.read(spark, "mv_cd")) == sortedRows(expected))
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_cd")
  }

  test("approx_count_distinct MV: sketch fold on inserts, recompute on deletes") {
    val base = tempBase("hll")
    val root = s"$base/src"
    val man = new TxnManifest(s"$base/manifest.tsv")
    def rows(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi).select(col("id"),
        (col("id") % 4).cast("int").as("grp"),
        (col("id") % 50).as("dv")) // ≤50 distinct per group: sketches
                                   // stay in sparse mode → estimates
                                   // are EXACT and fold == recompute
    StatsSinks.appendBatchStats(rows(0, 20000), root, 0)
    man.commit(0, Seq(s"$root/batch=0"))
    GraftSqlTables.register("mv_hll_src", GraftSqlTables.Entry(root,
      s"$base/manifest.tsv", keys = Seq("id"), cdf = true))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_hll LOCATION '$base/mv' AS " +
        "SELECT grp, approx_count_distinct(dv) AS ad, " +
        "approx_count_distinct(id) AS aid, count(*) AS n " +
        "FROM mv_hll_src GROUP BY grp")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_hll")
    def exact: Map[Int, (Long, Long)] = {
      val e = GraftSqlTables.lookup(Seq("mv_hll_src")).get
      Sinks.readCommitted(spark, e.root, new TxnManifest(e.manifestPath))
        .groupBy("grp").agg(countDistinct(col("dv")).as("xd"),
          countDistinct(col("id")).as("xi"))
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
    }
    def served: Map[Int, (Long, Long)] =
      GraftMvs.read(spark, "mv_hll").collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // small-cardinality column: sparse-mode sketches are exact
    assert(served.map { case (g, v) => g -> v._1 } ==
      exact.map { case (g, v) => g -> v._1 },
      "sparse-mode estimates must be exact")
    // large-cardinality column: estimate within the HLL error envelope
    served.foreach { case (g, (_, est)) =>
      val x = exact(g)._2.toDouble
      assert(math.abs(est - x) / x < 0.05,
        s"grp $g: estimate $est vs exact $x exceeds 5%")
    }

    // insert-only wave FOLDS (sketch union) without reading the base
    StatsSinks.appendBatchStats(rows(20000, 20060), root, 1)
    man.commit(1, Seq(s"$root/batch=1"))
    val recordsRead = RecordsRead.during(spark) {
      GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_hll")
    }
    assert(recordsRead < 2000,
      s"insert-only sketch refresh read ${recordsRead} records — " +
        "the 20000-row base must not be scanned")
    val folded = served
    assert(folded.map { case (g, v) => g -> v._1 } ==
      exact.map { case (g, v) => g -> v._1 },
      "folded sparse sketches must still be exact")
    // fold-vs-recompute equivalence: a FULL refresh recomputes every
    // sketch single-pass; the sparse estimates must agree exactly and
    // the dense ones within the documented envelope
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_hll FULL")
    val recomputed = served
    assert(recomputed.map { case (g, v) => g -> v._1 } ==
      folded.map { case (g, v) => g -> v._1 })
    recomputed.foreach { case (g, (_, est)) =>
      val f = folded(g)._2.toDouble
      assert(math.abs(est - f) / f < 0.02,
        s"grp $g: recompute $est vs fold $f diverged past 2%")
    }

    // a delete sends its groups to the recompute arm — estimates track
    // the post-delete exact counts (sketches don't subtract; re-count)
    GraftSql.execute(spark, "DELETE FROM mv_hll_src WHERE dv >= 40")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_hll")
    assert(served.map { case (g, v) => g -> v._1 } ==
      exact.map { case (g, v) => g -> v._1 },
      "post-delete recompute must re-count the shrunken value sets")

    // the transparent rewrite never serves a DIFFERENT approximation:
    // a query's native approx_count_distinct computes from the base
    val e = GraftSqlTables.lookup(Seq("mv_hll_src")).get
    val q = GraftSql.execute(spark,
      "SELECT grp, approx_count_distinct(dv) AS ad, count(*) AS n " +
        "FROM mv_hll_src GROUP BY grp")
    assert(q.queryExecution.executedPlan.toString.contains(e.root),
      "approx_count_distinct queries must never serve from the sketch " +
        "store (different estimator)")
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_hll")
  }

  test("approx_percentile MV: GK summary folds on inserts, recomputes on deletes") {
    val base = tempBase("qt")
    val root = s"$base/src"
    val man = new TxnManifest(s"$base/manifest.tsv")
    def rows(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi).select(col("id"),
        (col("id") % 4).cast("int").as("grp"),
        when(col("id") % 7 === 0, lit(null).cast("long"))
          .otherwise(col("id") * 37 % 10007).as("m"))
    StatsSinks.appendBatchStats(rows(0, 20000), root, 0)
    man.commit(0, Seq(s"$root/batch=0"))
    GraftSqlTables.register("mv_qt_src", GraftSqlTables.Entry(root,
      s"$base/manifest.tsv", keys = Seq("id"), cdf = true))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_qt LOCATION '$base/mv' AS " +
        "SELECT grp, approx_percentile(m, 0.5) AS p50, " +
        "approx_percentile(m, 0.95) AS p95, count(*) AS n " +
        "FROM mv_qt_src GROUP BY grp")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_qt")
    // the GK contract: the served value's rank is within ε·n (+1 for
    // the discrete boundary) of the target rank, per group — checked
    // against the exact sorted values of the CURRENT base
    def checkBounds(): Unit = {
      val e = GraftSqlTables.lookup(Seq("mv_qt_src")).get
      val byGrp = Sinks.readCommitted(spark, e.root,
        new TxnManifest(e.manifestPath))
        .where(col("m").isNotNull).select("grp", "m")
        .collect().map(r => (r.getInt(0), r.getLong(1).toDouble))
        .groupBy(_._1).map { case (g, vs) =>
          g -> vs.map(_._2).sorted.toIndexedSeq }
      // declared output type = Spark's approx_percentile contract:
      // the INPUT type (long m → long estimates)
      val served = GraftMvs.read(spark, "mv_qt").collect()
        .map(r => r.getInt(0) ->
          ((r.getLong(1).toDouble, r.getLong(2).toDouble))).toMap
      for ((g, sorted) <- byGrp; (p, est) <- Seq(
          (0.5, served(g)._1), (0.95, served(g)._2))) {
        val n = sorted.length
        val target = p * n
        val slack = 0.01 * n + 1
        val loRank = sorted.count(_ < est) // est occupies ranks
        val hiRank = sorted.count(_ <= est) // (loRank, hiRank]
        assert(est >= sorted.head && est <= sorted.last,
          s"grp $g p=$p: estimate $est outside the value range")
        assert(hiRank >= target - slack && loRank <= target + slack,
          s"grp $g p=$p: estimate $est at ranks ($loRank, $hiRank] " +
            s"misses target $target ± $slack over $n values")
      }
    }
    checkBounds()

    // insert-only wave FOLDS (summary merge) without reading the base
    StatsSinks.appendBatchStats(rows(20000, 20080), root, 1)
    man.commit(1, Seq(s"$root/batch=1"))
    val recordsRead = RecordsRead.during(spark) {
      GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_qt")
    }
    assert(recordsRead < 2000,
      s"insert-only summary refresh read ${recordsRead} records — " +
        "the 20000-row base must not be scanned")
    checkBounds()

    // fold-vs-recompute: a FULL refresh rebuilds every summary
    // single-pass; both sides must satisfy the same rank-error bound
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_qt FULL")
    checkBounds()

    // deletes shift the distribution — the touched groups recompute
    // (summaries don't subtract) and the bound holds on the new base
    GraftSql.execute(spark, "DELETE FROM mv_qt_src WHERE m > 9000")
    GraftSql.execute(spark, "DELETE FROM mv_qt_src WHERE id % 11 = 5")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_qt")
    checkBounds()

    // estimator policy: a query's 2-arg approx_percentile (Spark's
    // default accuracy 10000) and any NON-matching accuracy never
    // serve from the GK store — a different operating point is a
    // different estimator
    val e = GraftSqlTables.lookup(Seq("mv_qt_src")).get
    for (call <- Seq("approx_percentile(m, 0.5)",
        "approx_percentile(m, 0.5, 5000)")) {
      val q = GraftSql.execute(spark,
        s"SELECT grp, $call AS p50, count(*) AS n " +
          "FROM mv_qt_src GROUP BY grp")
      assert(q.queryExecution.executedPlan.toString.contains(e.root),
        s"$call must never serve from the summary store " +
          "(mismatched estimator operating point)")
    }
    // estimator IDENTITY serves: accuracy 1/ε names the exact same
    // QuantileSummaries operating point the store folds, so the
    // served answer is what Spark's own aggregate would return —
    // pinned value-identical against vanilla execution on the base
    val acc = math.round(1.0 / graft.expressions.QuantileSketch.Epsilon)
    val matchedSql =
      s"SELECT grp, approx_percentile(m, 0.5, $acc) AS p50, " +
        s"count(*) AS n FROM mv_qt_src GROUP BY grp"
    val servedQ = GraftSql.execute(spark, matchedSql)
    assert(!servedQ.queryExecution.executedPlan.toString.contains(e.root),
      "accuracy-matched approx_percentile must serve from the store")
    val vanilla = Sinks.readCommitted(spark, e.root,
      new TxnManifest(e.manifestPath))
      .groupBy(col("grp")).agg(
        expr(s"approx_percentile(m, 0.5, $acc)").as("p50"),
        count(lit(1)).as("n"))
    val sv = servedQ.collect().map(r =>
      r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val vn = vanilla.collect().map(r =>
      r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(sv.keySet == vn.keySet)
    // the served answer honors the TOLERANCE the query itself named:
    // approx_percentile(x, p, acc) declares rank error ≤ n/acc, and
    // GK-vs-GK at the same ε means served and vanilla are both
    // conforming answers (bitwise equality does NOT survive
    // incremental folds — the summaries' sampled tuples differ with
    // merge order — which is exactly why the accuracy literal, not
    // estimator family, is the serve condition)
    val exact = Sinks.readCommitted(spark, e.root,
      new TxnManifest(e.manifestPath))
      .where(col("m").isNotNull).select("grp", "m")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
      .groupBy(_._1).map { case (g, vs) =>
        g -> vs.map(_._2).sorted.toIndexedSeq }
    for ((g, (p50s, ns)) <- sv) {
      assert(ns == vn(g)._2, s"grp $g: count served $ns vs ${vn(g)._2}")
      val sorted = exact(g)
      val slack = sorted.length.toDouble / acc + 1
      val target = 0.5 * sorted.length
      val lo = sorted.count(_ < p50s); val hi = sorted.count(_ <= p50s)
      assert(hi >= target - slack && lo <= target + slack,
        s"grp $g: served p50 $p50s at ranks ($lo, $hi] misses " +
          s"target $target ± $slack (vanilla: ${vn(g)._1})")
    }
    // ROLLUP serve: a COARSER grain (here: the global aggregate)
    // re-merges the stored per-group summaries via qtile_merge_agg —
    // GK merge keeps the shared ε bound, so the merged answer
    // conforms to the same declared tolerance over the combined count
    val gq = GraftSql.execute(spark,
      s"SELECT approx_percentile(m, 0.5, $acc) AS p50, count(*) AS n " +
        "FROM mv_qt_src")
    assert(!gq.queryExecution.executedPlan.toString.contains(e.root),
      "accuracy-matched rollup percentile must serve from the store")
    val grow = gq.collect().head
    val allSorted = exact.values.flatten.toIndexedSeq.sorted
    val gslack = allSorted.length.toDouble / acc + 1
    val gtarget = 0.5 * allSorted.length
    val gp = grow.getLong(0)
    val glo = allSorted.count(_ < gp); val ghi = allSorted.count(_ <= gp)
    assert(ghi >= gtarget - gslack && glo <= gtarget + gslack,
      s"rollup p50 $gp at ranks ($glo, $ghi] misses $gtarget ± $gslack")
    assert(grow.getLong(1) == Sinks.readCommitted(spark, e.root,
      new TxnManifest(e.manifestPath)).count(), "rollup count must be exact")
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_qt")
  }

  test("MV-on-MV chain: parent folds the child store's CDF; cycles refuse") {
    val (src, base, man) = newSource("chain", spark.range(20000).select(
      col("id"), (col("id") % 100).cast("int").as("g100"),
      (col("id") * 3 % 1000).as("m")))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_chain_child LOCATION '$base/mv1' AS " +
        s"SELECT g100, count(*) AS n, sum(m) AS sm FROM $src GROUP BY g100")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_chain_child")
    // the parent reads the CHILD's declared output — with a computed
    // key on top
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_chain_top LOCATION '$base/mv2' AS " +
        "SELECT g100 % 10 AS g10, sum(n) AS total_n, count(*) AS groups, " +
        "sum(sm) AS total_m FROM mv_chain_child GROUP BY g10")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_chain_top")
    def expected: DataFrame = {
      val e = GraftSqlTables.lookup(Seq(src)).get
      Sinks.readCommitted(spark, e.root, new TxnManifest(e.manifestPath))
        .groupBy("g100")
        .agg(count(lit(1)).as("n"), sum("m").as("sm"))
        .select((col("g100") % 10).as("g10"), col("n"), col("sm"))
        .groupBy("g10").agg(sum("n").as("total_n"),
          count(lit(1)).as("groups"), sum("sm").as("total_m"))
    }
    assert(sortedRows(GraftMvs.read(spark, "mv_chain_top"))
      == sortedRows(expected))

    // DML wave → bottom-up refresh; the parent folds the CHILD's
    // change feed — neither the 20000-row base nor the child's full
    // store is re-scanned on the way
    GraftSql.execute(spark, s"DELETE FROM $src WHERE id % 13 = 5")
    GraftSql.execute(spark, s"UPDATE $src SET m = m + 100 WHERE id % 29 = 2")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_chain_child")
    val recordsRead = RecordsRead.during(spark) {
      GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_chain_top")
    }
    assert(recordsRead < 2000,
      s"parent refresh read ${recordsRead} records — it must fold " +
        "the child's delta, never re-scan the 20000-row base")
    assert(sortedRows(GraftMvs.read(spark, "mv_chain_top"))
      == sortedRows(expected))
    // group death propagates: empty a whole g10 block of the base
    GraftSql.execute(spark, s"DELETE FROM $src WHERE g100 % 10 = 7")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_chain_child")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_chain_top")
    val after = GraftMvs.read(spark, "mv_chain_top")
    assert(after.where("g10 = 7").count() == 0,
      "a parent group emptied through the chain must vanish")
    assert(sortedRows(after) == sortedRows(expected))

    // REFRESH ALL converges the pyramid in ONE sweep: the sweep
    // orders bottom-up (chain depth), so the parent folds the delta
    // the child just committed
    GraftSql.execute(spark, s"DELETE FROM $src WHERE id % 23 = 11")
    GraftSql.execute(spark, "REFRESH ALL MATERIALIZED VIEWS")
    def freshAll(n: String): Boolean = GraftSql.execute(spark,
      s"DESCRIBE MATERIALIZED VIEW $n").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
      .apply("is_fresh") == "true"
    assert(freshAll("mv_chain_child") && freshAll("mv_chain_top"),
      "one REFRESH ALL sweep must converge both pyramid levels")
    assert(sortedRows(GraftMvs.read(spark, "mv_chain_top"))
      == sortedRows(expected))

    // OPTIMIZE on the child is PHYSICAL, never logical: its compact
    // batch serves zero deltas through the feed, so the parent's next
    // refresh folds across it and stays correct
    GraftSql.execute(spark, "OPTIMIZE MATERIALIZED VIEW mv_chain_child")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_chain_top")
    assert(sortedRows(GraftMvs.read(spark, "mv_chain_top"))
      == sortedRows(expected),
      "the parent must fold across the child's compaction batch")

    // the streaming maintainer drives the PARENT off the child
    // store's feed: one drained AvailableNow run re-converges it
    GraftSql.execute(spark, s"DELETE FROM $src WHERE id % 37 = 9")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_chain_child")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_chain_ckpt_").toString
    val q = GraftMvs.maintainer(spark, "mv_chain_top", ckpt,
      availableNow = true)
    try q.awaitTermination() finally q.stop()
    assert(freshAll("mv_chain_top"),
      "the drained maintainer must leave the parent fresh")
    assert(sortedRows(GraftMvs.read(spark, "mv_chain_top"))
      == sortedRows(expected))

    // cycle refusal: re-create the child READING THE PARENT — the
    // CREATE walk must close the loop and refuse loudly
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_chain_child")
    val ex = intercept[Exception](GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_chain_child LOCATION '$base/mv3' AS " +
        "SELECT g10, sum(total_n) AS tn FROM mv_chain_top GROUP BY g10"))
    assert(ex.getMessage.contains("CYCLES"), s"got: ${ex.getMessage}")
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_chain_top")
  }

  test("fresh MV accelerates matching SELECTs; stale serves from base") {
    val (src, base, man) = newSource("acc", seed(400))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_acc LOCATION '$base/mv' AS " +
        s"SELECT grp, count(*) AS n, sum(m) AS sm, avg(m) AS am " +
        s"FROM $src WHERE id % 10 != 9 GROUP BY grp")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_acc")
    val e = GraftSqlTables.lookup(Seq(src)).get
    def direct: DataFrame =
      Sinks.readCommitted(spark, e.root, new TxnManifest(e.manifestPath))
        .where("id % 10 != 9").groupBy("grp")
        .agg(sum("m").as("sm"), count(lit(1)).as("n"))
    val q = s"SELECT grp, sum(m) AS sm, count(*) AS n FROM $src " +
      "WHERE id % 10 != 9 GROUP BY grp"

    val served = GraftSql.execute(spark, q)
    val plan1 = served.queryExecution.executedPlan.toString
    assert(!plan1.contains(e.root),
      "a fresh MV must serve without touching the base table")
    assert(plan1.contains(s"$base/mv/data"),
      "the accelerated plan must scan the MV store")
    assert(sortedRows(served) == sortedRows(direct))

    // stale view: new base data, no refresh → compute from the base
    StatsSinks.appendBatchStats(seed(440).where("id >= 400"), e.root, 1)
    man.commit(1, Seq(s"${e.root}/batch=1"))
    val fallback = GraftSql.execute(spark, q)
    assert(fallback.queryExecution.executedPlan.toString.contains(e.root),
      "a stale MV must never serve")
    assert(sortedRows(fallback) == sortedRows(direct))

    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_acc")
    assert(!GraftSql.execute(spark, q).queryExecution.executedPlan
      .toString.contains(e.root), "refreshed → accelerated again")

    // residual key predicate: applied above the serve
    val res = GraftSql.execute(spark, s"SELECT grp, avg(m) AS am FROM $src " +
      "WHERE id % 10 != 9 AND grp >= 2 GROUP BY grp")
    assert(!res.queryExecution.executedPlan.toString.contains(e.root))
    assert(sortedRows(res) == sortedRows(
      Sinks.readCommitted(spark, e.root, new TxnManifest(e.manifestPath))
        .where("id % 10 != 9 AND grp >= 2").groupBy("grp")
        .agg(avg("m").as("am"))))

    // ORDER BY / LIMIT wrappers re-attach around the serve
    val top = GraftSql.execute(spark, s"SELECT grp, sum(m) AS sm FROM $src " +
      "WHERE id % 10 != 9 GROUP BY grp ORDER BY sm DESC LIMIT 2")
    assert(!top.queryExecution.executedPlan.toString.contains(e.root))
    assert(top.collect().map(_.getInt(0)).toSeq ==
      direct.orderBy(col("sm").desc).limit(2).collect()
        .map(_.getInt(0)).toSeq)
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_acc")
  }

  test("rollup rewrite: coarser GROUP BY and global aggregates") {
    val (src, base, _) = newSource("roll", seed(500))
    // two-key view; queries at (grp) and global grain both serve
    val e = GraftSqlTables.lookup(Seq(src)).get
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_roll LOCATION '$base/mv' AS " +
        s"SELECT grp, d, count(*) AS n, sum(m) AS sm, avg(m) AS am, " +
        s"min(m) AS mn, max(m) AS mx FROM $src GROUP BY grp, d")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_roll")
    def committed: DataFrame =
      Sinks.readCommitted(spark, e.root, new TxnManifest(e.manifestPath))

    val coarse = GraftSql.execute(spark,
      s"SELECT grp, sum(m) AS sm, avg(m) AS am, min(m) AS mn, " +
        s"count(*) AS n FROM $src GROUP BY grp")
    assert(!coarse.queryExecution.executedPlan.toString.contains(e.root),
      "coarser-grain query must roll up from the MV store")
    assert(sortedRows(coarse) == sortedRows(
      committed.groupBy("grp").agg(sum("m").as("sm"), avg("m").as("am"),
        min("m").as("mn"), count(lit(1)).as("n"))))
    assert(coarse.schema.map(f => (f.name, f.dataType)) ==
      committed.groupBy("grp").agg(sum("m").as("sm"), avg("m").as("am"),
        min("m").as("mn"), count(lit(1)).as("n"))
        .schema.map(f => (f.name, f.dataType)),
      "rollup must serve the direct aggregate's types")

    val global = GraftSql.execute(spark,
      s"SELECT count(*) AS n, sum(m) AS sm, max(m) AS mx FROM $src")
    assert(!global.queryExecution.executedPlan.toString.contains(e.root))
    assert(sortedRows(global) == sortedRows(
      committed.agg(count(lit(1)).as("n"), sum("m").as("sm"),
        max("m").as("mx"))))

    // compound aggregate expressions — arithmetic / CASE over matched
    // aggregates — serve at the direct grain and at a rollup grain
    val comp = GraftSql.execute(spark,
      s"SELECT grp, d, sum(m) / count(*) AS ratio, " +
        s"100 * sum(m) AS pct FROM $src GROUP BY grp, d")
    assert(!comp.queryExecution.executedPlan.toString.contains(e.root),
      "compound aggregate items must serve at the view grain")
    assert(sortedRows(comp) == sortedRows(committed.groupBy("grp", "d")
      .agg(expr("sum(m) / count(*)").as("ratio"),
        expr("100 * sum(m)").as("pct"))))
    assert(comp.schema.map(f => (f.name, f.dataType)) ==
      committed.groupBy("grp", "d")
        .agg(expr("sum(m) / count(*)").as("ratio"),
          expr("100 * sum(m)").as("pct"))
        .schema.map(f => (f.name, f.dataType)),
      "compound items must serve direct execution's types")
    val compRoll = GraftSql.execute(spark,
      s"SELECT grp, CASE WHEN count(*) > 100 THEN sum(m) ELSE 0 END " +
        s"AS cm, min(m) AS mn FROM $src GROUP BY grp")
    assert(!compRoll.queryExecution.executedPlan.toString.contains(e.root),
      "compound items must roll up from the store")
    assert(sortedRows(compRoll) == sortedRows(committed.groupBy("grp")
      .agg(expr("CASE WHEN count(*) > 100 THEN sum(m) ELSE 0 END").as("cm"),
        min(col("m")).as("mn"))))
    // a leftover non-aggregate function cannot serve — decline
    val compFn = GraftSql.execute(spark,
      s"SELECT grp, round(sum(m) / count(*), 2) AS r FROM $src GROUP BY grp")
    assert(compFn.queryExecution.executedPlan.toString.contains(e.root),
      "a scalar function around the compound must decline the rewrite")
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_roll")
  }

  test("join MV: fact delta folds through the dim; dim move recomputes") {
    val base = tempBase("join")
    def mkTable(tag: String, rows: DataFrame, keys: Seq[String])
      : (String, TxnManifest) = {
      val root = s"$base/$tag"
      val man = new TxnManifest(s"$base/$tag.manifest.tsv")
      StatsSinks.appendBatchStats(rows, root, 0)
      man.commit(0, Seq(s"$root/batch=0"))
      GraftSqlTables.register(s"mv_join_$tag", GraftSqlTables.Entry(root,
        s"$base/$tag.manifest.tsv", keys = keys, cdf = true))
      (s"mv_join_$tag", man)
    }
    val (fact, _) = mkTable("fact", spark.range(3000).select(col("id"),
      (col("id") % 10).cast("int").as("sk"),
      (col("id") * 2).as("qty")), Seq("id"))
    val (dim, _) = mkTable("dim", spark.range(10).select(
      col("id").cast("int").as("k"),
      (col("id") % 3).cast("int").as("nk")), Seq("k"))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_join LOCATION '$base/mv' AS " +
        s"SELECT d.nk, count(*) AS n, sum(f.qty) AS sq " +
        s"FROM $fact f JOIN $dim d ON f.sk = d.k GROUP BY d.nk")
    def expected: DataFrame = {
      val ef = GraftSqlTables.lookup(Seq(fact)).get
      val ed = GraftSqlTables.lookup(Seq(dim)).get
      val f = Sinks.readCommitted(spark, ef.root,
        new TxnManifest(ef.manifestPath))
      val dd = Sinks.readCommitted(spark, ed.root,
        new TxnManifest(ed.manifestPath))
      f.join(dd, f("sk") === dd("k")).groupBy("nk")
        .agg(count(lit(1)).as("n"), sum("qty").as("sq"))
    }
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_join")
    assert(sortedRows(GraftMvs.read(spark, "mv_join")) == sortedRows(expected))

    // fact wave → the incremental arm: ΔF ⋈ D folds additively and
    // the 3000-row fact base is never re-scanned
    GraftSql.execute(spark, s"DELETE FROM $fact WHERE id % 7 = 2")
    GraftSql.execute(spark, s"UPDATE $fact SET qty = qty + 5 WHERE id % 11 = 0")
    val recordsRead = RecordsRead.during(spark) {
      GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_join")
    }
    assert(recordsRead < 2500,
      s"fact-delta refresh read ${recordsRead} records — the " +
        "3000-row fact base must not be scanned")
    assert(sortedRows(GraftMvs.read(spark, "mv_join")) == sortedRows(expected))

    // dim move → the full-recompute arm, group death included:
    // relabel nk=2 dims onto nk=0, so group 2 must vanish
    GraftSql.execute(spark, s"UPDATE $dim SET nk = 0 WHERE nk = 2")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_join")
    val after = GraftMvs.read(spark, "mv_join")
    assert(after.where("nk = 2").count() == 0,
      "a group emptied by the dim relabel must vanish")
    assert(sortedRows(after) == sortedRows(expected))
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_join")
  }

  test("2-dim star MV: fact delta folds through both dims; any dim move recomputes") {
    val base = tempBase("star")
    def mkTable(tag: String, rows: DataFrame, keys: Seq[String])
      : (String, TxnManifest) = {
      val root = s"$base/$tag"
      val man = new TxnManifest(s"$base/$tag.manifest.tsv")
      StatsSinks.appendBatchStats(rows, root, 0)
      man.commit(0, Seq(s"$root/batch=0"))
      GraftSqlTables.register(s"mv_star_$tag", GraftSqlTables.Entry(root,
        s"$base/$tag.manifest.tsv", keys = keys, cdf = true))
      (s"mv_star_$tag", man)
    }
    val (fact, _) = mkTable("fact", spark.range(4000).select(col("id"),
      (col("id") % 10).cast("int").as("sk"),
      (col("id") % 6).cast("int").as("pk"),
      (col("id") * 2).as("qty")), Seq("id"))
    val (dim1, _) = mkTable("dim1", spark.range(10).select(
      col("id").cast("int").as("k"),
      (col("id") % 3).cast("int").as("nk")), Seq("k"))
    val (dim2, _) = mkTable("dim2", spark.range(6).select(
      col("id").cast("int").as("pkk"),
      (col("id") % 2).cast("int").as("band")), Seq("pkk"))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_star LOCATION '$base/mv' AS " +
        s"SELECT d1.nk, d2.band, count(*) AS n, sum(f.qty) AS sq " +
        s"FROM $fact f JOIN $dim1 d1 ON f.sk = d1.k " +
        s"JOIN $dim2 d2 ON f.pk = d2.pkk GROUP BY d1.nk, d2.band")
    def expected: DataFrame = {
      def committed(n: String): DataFrame = {
        val e = GraftSqlTables.lookup(Seq(n)).get
        Sinks.readCommitted(spark, e.root, new TxnManifest(e.manifestPath))
      }
      val f = committed(fact); val d1 = committed(dim1)
      val d2 = committed(dim2)
      f.join(d1, f("sk") === d1("k")).join(d2, f("pk") === d2("pkk"))
        .groupBy("nk", "band")
        .agg(count(lit(1)).as("n"), sum("qty").as("sq"))
    }
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_star")
    assert(sortedRows(GraftMvs.read(spark, "mv_star")) == sortedRows(expected))

    // fact wave → incremental: ΔF ⋈ D1 ⋈ D2 folds; the 4000-row fact
    // base is never re-scanned
    GraftSql.execute(spark, s"DELETE FROM $fact WHERE id % 9 = 2")
    GraftSql.execute(spark,
      s"UPDATE $fact SET qty = qty + 7 WHERE id % 13 = 0")
    val recordsRead = RecordsRead.during(spark) {
      GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_star")
    }
    assert(recordsRead < 3200,
      s"fact-delta star refresh read ${recordsRead} records — the " +
        "4000-row fact base must not be scanned")
    assert(sortedRows(GraftMvs.read(spark, "mv_star")) == sortedRows(expected))

    // acceleration: the matching 2-join query serves; dims written in
    // the flipped order still serve (inner joins commute)
    val factRoot = GraftSqlTables.lookup(Seq(fact)).get.root
    val q = s"SELECT d1.nk, d2.band, count(*) AS n, sum(f.qty) AS sq " +
      s"FROM $fact f JOIN $dim1 d1 ON f.sk = d1.k " +
      s"JOIN $dim2 d2 ON f.pk = d2.pkk GROUP BY d1.nk, d2.band"
    val served = GraftSql.execute(spark, q)
    assert(!served.queryExecution.executedPlan.toString.contains(factRoot),
      "a fresh 2-dim star MV must serve the matching star query")
    assert(sortedRows(served) == sortedRows(expected))
    val flipped = GraftSql.execute(spark,
      s"SELECT d1.nk, d2.band, sum(f.qty) AS sq " +
        s"FROM $fact f JOIN $dim2 d2 ON d2.pkk = f.pk " +
        s"JOIN $dim1 d1 ON f.sk = d1.k GROUP BY d1.nk, d2.band")
    assert(!flipped.queryExecution.executedPlan.toString.contains(factRoot),
      "flipped dim order must still serve")
    assert(sortedRows(flipped) == sortedRows(
      expected.select(col("nk"), col("band"), col("sq"))))
    // rollup to one dim's grain
    val coarse = GraftSql.execute(spark,
      s"SELECT d1.nk, count(*) AS n FROM $fact f " +
        s"JOIN $dim1 d1 ON f.sk = d1.k JOIN $dim2 d2 ON f.pk = d2.pkk " +
        "GROUP BY d1.nk")
    assert(!coarse.queryExecution.executedPlan.toString.contains(factRoot))
    assert(sortedRows(coarse) == sortedRows(
      expected.groupBy("nk").agg(sum("n").cast("long").as("n"))))
    // compound aggregates serve through the star rewrite too
    val compStar = GraftSql.execute(spark,
      s"SELECT d1.nk, sum(f.qty) / count(*) AS avg_qty FROM $fact f " +
        s"JOIN $dim1 d1 ON f.sk = d1.k JOIN $dim2 d2 ON f.pk = d2.pkk " +
        "GROUP BY d1.nk")
    assert(!compStar.queryExecution.executedPlan.toString.contains(factRoot),
      "a compound aggregate over the star must serve")
    assert(sortedRows(compStar) == sortedRows(
      expected.groupBy("nk").agg(
        (sum(col("sq")) / sum(col("n"))).as("avg_qty"))))
    // wrong ON pairs on ONE dim must decline
    val wrongOn = GraftSql.execute(spark,
      s"SELECT d1.nk, count(*) AS n FROM $fact f " +
        s"JOIN $dim1 d1 ON f.sk = d1.nk JOIN $dim2 d2 ON f.pk = d2.pkk " +
        "GROUP BY d1.nk")
    assert(wrongOn.queryExecution.executedPlan.toString.contains(factRoot),
      "a different ON clause must decline the star rewrite")

    // ONE dim moves → full recompute, group death included: fold
    // band=1 dims onto band=0
    GraftSql.execute(spark, s"UPDATE $dim2 SET band = 0 WHERE band = 1")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_star")
    val after = GraftMvs.read(spark, "mv_star")
    assert(after.where("band = 1").count() == 0,
      "a group emptied by the dim relabel must vanish")
    assert(sortedRows(after) == sortedRows(expected))
    // DESCRIBE lists both dims and their ON pairs
    val desc = GraftSql.execute(spark, "DESCRIBE MATERIALIZED VIEW mv_star")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc(s"join_on ($dim1)") == "sk = k")
    assert(desc(s"join_on ($dim2)") == "pk = pkk")
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_star")
  }

  test("LEFT star MV: NULL-extension groups maintain; dim insert flips via recompute") {
    val base = tempBase("lstar")
    def mkTable(tag: String, rows: DataFrame, keys: Seq[String])
      : (String, TxnManifest) = {
      val root = s"$base/$tag"
      val man = new TxnManifest(s"$base/$tag.manifest.tsv")
      StatsSinks.appendBatchStats(rows, root, 0)
      man.commit(0, Seq(s"$root/batch=0"))
      GraftSqlTables.register(s"mv_lstar_$tag", GraftSqlTables.Entry(root,
        s"$base/$tag.manifest.tsv", keys = keys, cdf = true))
      (s"mv_lstar_$tag", man)
    }
    val (fact, _) = mkTable("fact", spark.range(4000).select(col("id"),
      (col("id") % 10).cast("int").as("sk"),
      (col("id") % 6).cast("int").as("pk"),
      (col("id") * 2).as("qty")), Seq("id"))
    // dim1 covers sk 0..6 only → sk 7..9 facts NULL-extend on nk;
    // dim2 covers pk 0..4 only → pk 5 facts NULL-extend on band
    val (dim1, _) = mkTable("dim1", spark.range(7).select(
      col("id").cast("int").as("k"),
      (col("id") % 3).cast("int").as("nk")), Seq("k"))
    val (dim2, d2man) = mkTable("dim2", spark.range(5).select(
      col("id").cast("int").as("pkk"),
      (col("id") % 2).cast("int").as("band")), Seq("pkk"))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_lstar LOCATION '$base/mv' AS " +
        s"SELECT d1.nk, d2.band, count(*) AS n, sum(f.qty) AS sq " +
        s"FROM $fact f LEFT JOIN $dim1 d1 ON f.sk = d1.k " +
        s"LEFT JOIN $dim2 d2 ON f.pk = d2.pkk GROUP BY d1.nk, d2.band")
    def expected: DataFrame = {
      def committed(n: String): DataFrame = {
        val e = GraftSqlTables.lookup(Seq(n)).get
        Sinks.readCommitted(spark, e.root, new TxnManifest(e.manifestPath))
      }
      val f = committed(fact); val d1 = committed(dim1)
      val d2 = committed(dim2)
      f.join(d1, f("sk") === d1("k"), "left")
        .join(d2, f("pk") === d2("pkk"), "left")
        .groupBy("nk", "band")
        .agg(count(lit(1)).as("n"), sum("qty").as("sq"))
    }
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_lstar")
    val boot = GraftMvs.read(spark, "mv_lstar")
    assert(boot.where(col("nk").isNull).count() > 0,
      "unmatched-FK facts must group under NULL dim attrs")
    assert(sortedRows(boot) == sortedRows(expected))
    assert(boot.schema.map(f => (f.name, f.dataType))
      == expected.schema.map(f => (f.name, f.dataType)))

    // fact wave (NULL groups touched too) → the fold arm; the
    // 4000-row fact base is never re-scanned
    GraftSql.execute(spark, s"DELETE FROM $fact WHERE id % 9 = 2")
    GraftSql.execute(spark,
      s"UPDATE $fact SET qty = qty + 7 WHERE id % 13 = 0")
    val recordsRead = RecordsRead.during(spark) {
      GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_lstar")
    }
    assert(recordsRead < 3200,
      s"fact-delta LEFT-star refresh read ${recordsRead} records — " +
        "the 4000-row fact base must not be scanned")
    assert(sortedRows(GraftMvs.read(spark, "mv_lstar")) == sortedRows(expected))

    // acceleration: the LEFT query serves; its INNER twin must not
    // (it drops the NULL-extension groups the view stores)
    val factRoot = GraftSqlTables.lookup(Seq(fact)).get.root
    val served = GraftSql.execute(spark,
      s"SELECT d1.nk, d2.band, count(*) AS n, sum(f.qty) AS sq " +
        s"FROM $fact f LEFT JOIN $dim1 d1 ON f.sk = d1.k " +
        s"LEFT JOIN $dim2 d2 ON f.pk = d2.pkk GROUP BY d1.nk, d2.band")
    assert(!served.queryExecution.executedPlan.toString.contains(factRoot),
      "a fresh LEFT star MV must serve the matching LEFT query")
    assert(sortedRows(served) == sortedRows(expected))
    val innerTwin = GraftSql.execute(spark,
      s"SELECT d1.nk, d2.band, count(*) AS n, sum(f.qty) AS sq " +
        s"FROM $fact f JOIN $dim1 d1 ON f.sk = d1.k " +
        s"JOIN $dim2 d2 ON f.pk = d2.pkk GROUP BY d1.nk, d2.band")
    assert(innerTwin.queryExecution.executedPlan.toString.contains(factRoot),
      "an INNER query must never serve from a LEFT view")
    // rollup to the coarser grain keeps the NULL groups
    val coarse = GraftSql.execute(spark,
      s"SELECT d1.nk, count(*) AS n FROM $fact f " +
        s"LEFT JOIN $dim1 d1 ON f.sk = d1.k " +
        s"LEFT JOIN $dim2 d2 ON f.pk = d2.pkk GROUP BY d1.nk")
    assert(!coarse.queryExecution.executedPlan.toString.contains(factRoot),
      "the coarser LEFT query must roll up from the view store")
    assert(sortedRows(coarse) == sortedRows(
      expected.groupBy("nk").agg(sum("n").cast("long").as("n"))))

    // NULL-group death: remove every unmatched-sk fact row
    GraftSql.execute(spark, s"DELETE FROM $fact WHERE sk >= 7")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_lstar")
    val afterDeath = GraftMvs.read(spark, "mv_lstar")
    assert(afterDeath.where(col("nk").isNull).count() == 0,
      "a NULL-extension group emptied by the delete must vanish")
    assert(sortedRows(afterDeath) == sortedRows(expected))

    // dim INSERT that flips a NULL-extension (pkk=5 arrives): a dim
    // move → the full-recompute arm regroups those facts
    val e2 = GraftSqlTables.lookup(Seq(dim2)).get
    StatsSinks.appendBatchStats(spark.range(5, 6).select(
      col("id").cast("int").as("pkk"),
      lit(1).cast("int").as("band")), e2.root, 1)
    d2man.commit(1, Seq(s"${e2.root}/batch=1"))
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_lstar")
    val afterFlip = GraftMvs.read(spark, "mv_lstar")
    assert(afterFlip.where(col("band").isNull).count() == 0,
      "the dim insert must flip every band NULL-extension")
    assert(sortedRows(afterFlip) == sortedRows(expected))
    // DESCRIBE names the join type
    val desc = GraftSql.execute(spark, "DESCRIBE MATERIALIZED VIEW mv_lstar")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc(s"join_type ($dim1)") == "left")
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_lstar")
  }

  test("LEFT MV with double group key: -0.0 keys survive the recompute arm") {
    // groupBy normalizes -0.0 to 0.0 (NormalizeFloatingNumbers), so
    // the store's merge key renders "0.0" — but the recompute arms
    // re-render LIVE rows per row, where an unnormalized -0.0 would
    // read "-0.0", miss its group's semi-join, and silently drop from
    // the recomputed aggregate (the round-12 ADVICE finding). gkCol
    // now adds +0.0 before rendering; this pins the dim-moved
    // recompute path with -0.0 dim values end to end.
    val base = tempBase("negz")
    def mk(tag: String, rows: DataFrame, keys: Seq[String])
      : (String, TxnManifest, String) = {
      val root = s"$base/$tag"
      val man = new TxnManifest(s"$base/$tag.manifest.tsv")
      StatsSinks.appendBatchStats(rows, root, 0)
      man.commit(0, Seq(s"$root/batch=0"))
      GraftSqlTables.register(s"mv_negz_$tag", GraftSqlTables.Entry(root,
        s"$base/$tag.manifest.tsv", keys = keys, cdf = true))
      (s"mv_negz_$tag", man, root)
    }
    val (fact, _, _) = mk("fact", spark.range(400).select(col("id"),
      (col("id") % 10).cast("int").as("sk"),
      (col("id") * 2).as("qty")), Seq("id"))
    // dv carries REAL -0.0 values (even k) — dim covers sk 0..5 only,
    // so sk 6..9 facts NULL-extend
    def dimRows(from: Long, until: Long) =
      spark.range(from, until).select(col("id").cast("int").as("k"),
        when(col("id") % 2 === 0, lit(-0.0))
          .otherwise(col("id").cast("double") * 1.5).as("dv"))
    val (dim, dman, droot) = mk("dim", dimRows(0, 6), Seq("k"))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_negz LOCATION '$base/mv' AS " +
        s"SELECT d.dv, count(*) AS n, sum(f.qty) AS sq " +
        s"FROM $fact f LEFT JOIN $dim d ON f.sk = d.k GROUP BY d.dv")
    def expected: DataFrame = {
      def committed(n: String): DataFrame = {
        val e = GraftSqlTables.lookup(Seq(n)).get
        Sinks.readCommitted(spark, e.root, new TxnManifest(e.manifestPath))
      }
      val f = committed(fact); val d = committed(dim)
      f.join(d, f("sk") === d("k"), "left")
        .groupBy("dv").agg(count(lit(1)).as("n"), sum("qty").as("sq"))
    }
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_negz")
    assert(sortedRows(GraftMvs.read(spark, "mv_negz")) ==
      sortedRows(expected))
    // dim INSERT (flips NULL-extension facts for sk 6..7, one of them
    // to ANOTHER -0.0 value) → the dim-moved recompute arm re-renders
    // live rows per row — where the -0.0 drop lived
    StatsSinks.appendBatchStats(dimRows(6, 8), droot, 1)
    dman.commit(1, Seq(s"$droot/batch=1"))
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_negz")
    val served = GraftMvs.read(spark, "mv_negz")
    assert(sortedRows(served) == sortedRows(expected),
      "recomputed -0.0 groups must keep every live row")
    // the zero-keyed group really exists and counts all its facts
    // (sk 0, 2, 4 pre-insert + sk 6 post-insert → 4 of 10 sk values)
    val zeroN = served.where(col("dv") === 0.0).select("n")
      .collect().map(_.getLong(0)).sum
    assert(zeroN == 160, s"zero-keyed group counted $zeroN of 160")
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_negz")
  }

  test("LEFT join MV with min/max: NULL groups fold inserts, recompute deletes") {
    val base = tempBase("lmm")
    def mkTable(tag: String, rows: DataFrame, keys: Seq[String])
      : (String, TxnManifest) = {
      val root = s"$base/$tag"
      val man = new TxnManifest(s"$base/$tag.manifest.tsv")
      StatsSinks.appendBatchStats(rows, root, 0)
      man.commit(0, Seq(s"$root/batch=0"))
      GraftSqlTables.register(s"mv_lmm_$tag", GraftSqlTables.Entry(root,
        s"$base/$tag.manifest.tsv", keys = keys, cdf = true))
      (s"mv_lmm_$tag", man)
    }
    val (fact, fman) = mkTable("fact", spark.range(800).select(col("id"),
      (col("id") % 9).cast("int").as("fk"),
      (col("id") * 5 % 311).as("v")), Seq("id"))
    val (dim, _) = mkTable("dim", spark.range(6).select(
      col("id").cast("int").as("k"),
      concat(lit("g"), (col("id") % 2).cast("string")).as("g")), Seq("k"))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_lmm LOCATION '$base/mv' AS " +
        s"SELECT d.g, count(*) AS n, min(f.v) AS lo, max(f.v) AS hi " +
        s"FROM $fact f LEFT JOIN $dim d ON f.fk = d.k GROUP BY d.g")
    def expected: DataFrame = {
      def committed(n: String): DataFrame = {
        val e = GraftSqlTables.lookup(Seq(n)).get
        Sinks.readCommitted(spark, e.root, new TxnManifest(e.manifestPath))
      }
      val f = committed(fact); val d = committed(dim)
      f.join(d, f("fk") === d("k"), "left").groupBy("g")
        .agg(count(lit(1)).as("n"), min("v").as("lo"), max("v").as("hi"))
    }
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_lmm")
    assert(GraftMvs.read(spark, "mv_lmm")
      .where(col("g").isNull).count() == 1)
    assert(sortedRows(GraftMvs.read(spark, "mv_lmm")) == sortedRows(expected))
    // insert-only wave (extends extremes of NULL group too) → folds
    val e = GraftSqlTables.lookup(Seq(fact)).get
    StatsSinks.appendBatchStats(spark.range(800, 900).select(col("id"),
      (col("id") % 9).cast("int").as("fk"),
      (col("id") * 5 % 311 + 400).as("v")), e.root, 1)
    fman.commit(1, Seq(s"${e.root}/batch=1"))
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_lmm")
    assert(sortedRows(GraftMvs.read(spark, "mv_lmm")) == sortedRows(expected))
    // deletes that take a group's max → the per-group recompute arm,
    // NULL group included (fk 6..8 rows are unmatched)
    GraftSql.execute(spark, s"DELETE FROM $fact WHERE v >= 380")
    GraftSql.execute(spark, s"DELETE FROM $fact WHERE fk = 7 AND v > 150")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_lmm")
    assert(sortedRows(GraftMvs.read(spark, "mv_lmm")) == sortedRows(expected))
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_lmm")
  }

  test("LEFT join MV × BUCKETED BY: NULL-keyed groups ride the bucket layout") {
    val base = tempBase("lbkt")
    def mkTable(tag: String, rows: DataFrame, keys: Seq[String])
      : (String, TxnManifest) = {
      val root = s"$base/$tag"
      val man = new TxnManifest(s"$base/$tag.manifest.tsv")
      StatsSinks.appendBatchStats(rows, root, 0)
      man.commit(0, Seq(s"$root/batch=0"))
      GraftSqlTables.register(s"mv_lbkt_$tag", GraftSqlTables.Entry(root,
        s"$base/$tag.manifest.tsv", keys = keys, cdf = true))
      (s"mv_lbkt_$tag", man)
    }
    val (fact, _) = mkTable("fact", spark.range(2000).select(col("id"),
      (col("id") % 12).cast("int").as("fk"), (col("id") * 2).as("v")),
      Seq("id"))
    // dim covers fk 0..7 only → fk 8..11 facts NULL-extend
    val (dim, _) = mkTable("dim", spark.range(8).select(
      col("id").cast("int").as("k"),
      (col("id") % 3).cast("int").as("band")), Seq("k"))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_lbkt LOCATION '$base/mv' " +
        s"BUCKETED BY (4) AS SELECT d.band, count(*) AS n, sum(f.v) AS sv " +
        s"FROM $fact f LEFT JOIN $dim d ON f.fk = d.k GROUP BY d.band")
    def expected: DataFrame = {
      def committed(n: String): DataFrame = {
        val e = GraftSqlTables.lookup(Seq(n)).get
        Sinks.readCommitted(spark, e.root, new TxnManifest(e.manifestPath))
      }
      val f = committed(fact); val d = committed(dim)
      f.join(d, f("fk") === d("k"), "left").groupBy("band")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"))
    }
    def markers(): (Int, Int) = {
      val man = new TxnManifest(s"$base/mv/manifest.tsv")
      val dirs = man.committedDirs(s"$base/mv/data")
        .filterNot(_.contains("_dv"))
      (dirs.size, dirs.count(d =>
        new java.io.File(d, graft.sources.Bucketing.Marker).exists()))
    }
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_lbkt")
    val (d1, m1) = markers()
    assert(d1 > 0 && m1 == d1,
      s"bootstrap: $m1 of $d1 dirs carry the bucket marker")
    val boot = GraftMvs.read(spark, "mv_lbkt")
    assert(boot.where(col("band").isNull).count() == 1,
      "the NULL-extension group must land in the bucketed store")
    assert(sortedRows(boot) == sortedRows(expected))
    // fold (NULL group included) and recompute waves keep the layout
    GraftSql.execute(spark, s"DELETE FROM $fact WHERE id % 7 = 3")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_lbkt")
    GraftSql.execute(spark, s"DELETE FROM $fact WHERE fk >= 10")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_lbkt")
    val (d2, m2) = markers()
    assert(m2 == d2, s"after refreshes: $m2 of $d2 dirs carry the marker")
    assert(sortedRows(GraftMvs.read(spark, "mv_lbkt")) ==
      sortedRows(expected))
    // OPTIMIZE keeps the layout AND the NULL group
    GraftSql.execute(spark, "OPTIMIZE MATERIALIZED VIEW mv_lbkt")
    val (d3, m3) = markers()
    assert(m3 == d3)
    assert(sortedRows(GraftMvs.read(spark, "mv_lbkt")) ==
      sortedRows(expected))
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_lbkt")
  }

  test("LEFT star CREATE: ON conjunct placement is semantic — misplaced refuses") {
    val base = tempBase("lplace")
    def mkTable(tag: String, rows: DataFrame, keys: Seq[String]): String = {
      val root = s"$base/$tag"
      val man = new TxnManifest(s"$base/$tag.manifest.tsv")
      StatsSinks.appendBatchStats(rows, root, 0)
      man.commit(0, Seq(s"$root/batch=0"))
      GraftSqlTables.register(s"mv_lplace_$tag", GraftSqlTables.Entry(root,
        s"$base/$tag.manifest.tsv", keys = keys, cdf = true))
      s"mv_lplace_$tag"
    }
    val fact = mkTable("fact", spark.range(50).select(col("id"),
      (col("id") % 5).cast("int").as("a"),
      (col("id") % 3).cast("int").as("b")), Seq("id"))
    val dim1 = mkTable("dim1", spark.range(5).select(
      col("id").cast("int").as("k1"), col("id").as("x1")), Seq("k1"))
    val dim2 = mkTable("dim2", spark.range(3).select(
      col("id").cast("int").as("k2"), col("id").as("x2")), Seq("k2"))
    // a dim1 equality written inside dim2's ON clause: movable under
    // INNER, semantic under LEFT — must refuse loudly
    val ex = intercept[Exception](GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_lplace LOCATION '$base/mv' AS " +
        s"SELECT d1.x1, count(*) AS n FROM $fact f " +
        s"LEFT JOIN $dim1 d1 ON f.a = d1.k1 " +
        s"LEFT JOIN $dim2 d2 ON f.b = d2.k2 AND f.a = d1.k1 " +
        "GROUP BY d1.x1"))
    assert(ex.getMessage.contains("ON placement is semantic"),
      s"got: ${ex.getMessage}")
    // the same text with INNER joins stays accepted (r11 freedom)
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_lplace LOCATION '$base/mv' AS " +
        s"SELECT d1.x1, count(*) AS n FROM $fact f " +
        s"JOIN $dim1 d1 ON f.a = d1.k1 " +
        s"JOIN $dim2 d2 ON f.b = d2.k2 AND f.a = d1.k1 " +
        "GROUP BY d1.x1")
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_lplace")
  }

  test("snowflake MV: dim-of-dim chain folds and accelerates") {
    val base = tempBase("snow")
    def mkTable(tag: String, rows: DataFrame, keys: Seq[String]): String = {
      val root = s"$base/$tag"
      val man = new TxnManifest(s"$base/$tag.manifest.tsv")
      StatsSinks.appendBatchStats(rows, root, 0)
      man.commit(0, Seq(s"$root/batch=0"))
      GraftSqlTables.register(s"mv_snow_$tag", GraftSqlTables.Entry(root,
        s"$base/$tag.manifest.tsv", keys = keys, cdf = true))
      s"mv_snow_$tag"
    }
    // fact → dim1 (city) → dim2 (region): the classic snowflake —
    // dim2 keys off dim1's retained attribute, not the fact
    val fact = mkTable("fact", spark.range(3000).select(col("id"),
      (col("id") % 12).cast("int").as("ck"),
      (col("id") * 3).as("amt")), Seq("id"))
    val dim1 = mkTable("dim1", spark.range(12).select(
      col("id").cast("int").as("k"),
      (col("id") % 4).cast("int").as("rid")), Seq("k"))
    val dim2 = mkTable("dim2", spark.range(4).select(
      col("id").cast("int").as("r"),
      concat(lit("R"), col("id")).as("rname")), Seq("r"))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_snow LOCATION '$base/mv' AS " +
        s"SELECT d2.rname, count(*) AS n, sum(f.amt) AS sa " +
        s"FROM $fact f JOIN $dim1 d1 ON f.ck = d1.k " +
        s"JOIN $dim2 d2 ON d1.rid = d2.r GROUP BY d2.rname")
    def expected: DataFrame = {
      def committed(n: String): DataFrame = {
        val e = GraftSqlTables.lookup(Seq(n)).get
        Sinks.readCommitted(spark, e.root, new TxnManifest(e.manifestPath))
      }
      val f = committed(fact); val d1 = committed(dim1)
      val d2 = committed(dim2)
      f.join(d1, f("ck") === d1("k")).join(d2, d1("rid") === d2("r"))
        .groupBy("rname").agg(count(lit(1)).as("n"), sum("amt").as("sa"))
    }
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_snow")
    assert(sortedRows(GraftMvs.read(spark, "mv_snow")) == sortedRows(expected))

    // fact wave → the incremental arm folds ΔF through the chain
    GraftSql.execute(spark, s"DELETE FROM $fact WHERE id % 6 = 3")
    GraftSql.execute(spark,
      s"UPDATE $fact SET amt = amt + 1 WHERE id % 10 = 0")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_snow")
    assert(sortedRows(GraftMvs.read(spark, "mv_snow")) == sortedRows(expected))

    // acceleration: matching snowflake text serves from the store
    val factRoot = GraftSqlTables.lookup(Seq(fact)).get.root
    val q = s"SELECT d2.rname, count(*) AS n, sum(f.amt) AS sa " +
      s"FROM $fact f JOIN $dim1 d1 ON f.ck = d1.k " +
      s"JOIN $dim2 d2 ON d1.rid = d2.r GROUP BY d2.rname"
    val served = GraftSql.execute(spark, q)
    assert(!served.queryExecution.executedPlan.toString.contains(factRoot),
      "a fresh snowflake MV must serve the matching chain query")
    assert(sortedRows(served) == sortedRows(expected))

    // the MID dim moving breaks the identity → full recompute with
    // group deaths (collapse region 3 into 0)
    GraftSql.execute(spark, s"UPDATE $dim1 SET rid = 0 WHERE rid = 3")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_snow")
    val after = GraftMvs.read(spark, "mv_snow")
    assert(after.where("rname = 'R3'").count() == 0,
      "a group emptied by the mid-dim relabel must vanish")
    assert(sortedRows(after) == sortedRows(expected))
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_snow")
  }

  test("join-query acceleration: table pair + ON pairs + grain must match") {
    val base = tempBase("jacc")
    def mkTable(tag: String, rows: DataFrame, keys: Seq[String]): String = {
      val root = s"$base/$tag"
      val man = new TxnManifest(s"$base/$tag.manifest.tsv")
      StatsSinks.appendBatchStats(rows, root, 0)
      man.commit(0, Seq(s"$root/batch=0"))
      GraftSqlTables.register(s"mv_jacc_$tag", GraftSqlTables.Entry(root,
        s"$base/$tag.manifest.tsv", keys = keys, cdf = true))
      s"mv_jacc_$tag"
    }
    val fact = mkTable("fact", spark.range(2000).select(col("id"),
      (col("id") % 8).cast("int").as("sk"),
      (col("id") * 2).as("qty")), Seq("id"))
    val dim = mkTable("dim", spark.range(8).select(
      col("id").cast("int").as("k"),
      (col("id") % 3).cast("int").as("nk")), Seq("k"))
    val factRoot = GraftSqlTables.lookup(Seq(fact)).get.root
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_jacc LOCATION '$base/mv' AS " +
        s"SELECT d.nk, count(*) AS n, sum(f.qty) AS sq " +
        s"FROM $fact f JOIN $dim d ON f.sk = d.k GROUP BY d.nk")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_jacc")
    def direct: DataFrame = {
      val ef = GraftSqlTables.lookup(Seq(fact)).get
      val ed = GraftSqlTables.lookup(Seq(dim)).get
      val f = Sinks.readCommitted(spark, ef.root,
        new TxnManifest(ef.manifestPath))
      val dd = Sinks.readCommitted(spark, ed.root,
        new TxnManifest(ed.manifestPath))
      f.join(dd, f("sk") === dd("k")).groupBy("nk")
        .agg(count(lit(1)).as("n"), sum("qty").as("sq"))
    }

    // the matching join query serves from the view's store
    val q = s"SELECT d.nk, count(*) AS n, sum(f.qty) AS sq " +
      s"FROM $fact f JOIN $dim d ON f.sk = d.k GROUP BY d.nk"
    val served = GraftSql.execute(spark, q)
    assert(!served.queryExecution.executedPlan.toString.contains(factRoot),
      "a fresh join MV must serve the matching join query")
    assert(sortedRows(served) == sortedRows(direct))

    // FROM order flipped (dim JOIN fact): inner joins commute
    val flipped = GraftSql.execute(spark,
      s"SELECT d.nk, count(*) AS n FROM $dim d JOIN $fact f " +
        s"ON d.k = f.sk GROUP BY d.nk")
    assert(!flipped.queryExecution.executedPlan.toString.contains(factRoot),
      "a flipped FROM order must still serve")
    assert(sortedRows(flipped) ==
      sortedRows(direct.select(col("nk"), col("n"))))

    // rollup to the global grain over the join
    val global = GraftSql.execute(spark,
      s"SELECT count(*) AS n, sum(f.qty) AS sq FROM $fact f " +
        s"JOIN $dim d ON f.sk = d.k")
    assert(!global.queryExecution.executedPlan.toString.contains(factRoot))
    assert(sortedRows(global) == sortedRows(
      direct.agg(sum("n").cast("long").as("n"), sum("sq").as("sq"))))

    // residual key predicate re-applies above the serve
    val res = GraftSql.execute(spark,
      s"SELECT d.nk, sum(f.qty) AS sq FROM $fact f JOIN $dim d " +
        s"ON f.sk = d.k WHERE d.nk >= 1 GROUP BY d.nk")
    assert(!res.queryExecution.executedPlan.toString.contains(factRoot))
    assert(sortedRows(res) == sortedRows(
      direct.where("nk >= 1").select(col("nk"), col("sq"))))

    // DECLINES: different ON pairs, and a non-key residual — both
    // must compute the real join, never mis-serve
    val wrongOn = GraftSql.execute(spark,
      s"SELECT d.nk, count(*) AS n FROM $fact f JOIN $dim d " +
        s"ON f.sk = d.nk GROUP BY d.nk")
    assert(wrongOn.queryExecution.executedPlan.toString.contains(factRoot),
      "a different ON clause must decline the rewrite")
    val nonKey = GraftSql.execute(spark,
      s"SELECT d.nk, count(*) AS n FROM $fact f JOIN $dim d " +
        s"ON f.sk = d.k WHERE f.qty > 10 GROUP BY d.nk")
    assert(nonKey.queryExecution.executedPlan.toString.contains(factRoot),
      "a non-key residual predicate must decline the rewrite")
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_jacc")
  }

  test("HAVING over output aliases serves; agg-call HAVING declines") {
    val (src, base, _) = newSource("hav", seed(300))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_hav LOCATION '$base/mv' AS " +
        s"SELECT grp, count(*) AS n, sum(m) AS sm FROM $src GROUP BY grp")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_hav")
    val e = GraftSqlTables.lookup(Seq(src)).get
    def direct: DataFrame =
      Sinks.readCommitted(spark, e.root, new TxnManifest(e.manifestPath))
        .groupBy("grp").agg(count(lit(1)).as("n"), sum("m").as("sm"))

    // HAVING references output aliases → a Filter above the serve
    val served = GraftSql.execute(spark,
      s"SELECT grp, count(*) AS n, sum(m) AS sm FROM $src GROUP BY grp " +
        "HAVING n > 70 AND sm > 0")
    assert(!served.queryExecution.executedPlan.toString.contains(e.root),
      "alias-only HAVING must serve from the view")
    assert(sortedRows(served) ==
      sortedRows(direct.where("n > 70 AND sm > 0")))
    // ... and composes with ORDER BY/LIMIT wrappers
    val top = GraftSql.execute(spark,
      s"SELECT grp, sum(m) AS sm FROM $src GROUP BY grp " +
        "HAVING sm > 0 ORDER BY sm DESC LIMIT 2")
    assert(!top.queryExecution.executedPlan.toString.contains(e.root))
    assert(top.collect().map(_.getInt(0)).toSeq ==
      direct.where("sm > 0").orderBy(col("sm").desc).limit(2)
        .collect().map(_.getInt(0)).toSeq)

    // an aggregate CALL in HAVING that the SELECT does not list has
    // nothing served to bind to — decline
    val agg = GraftSql.execute(spark,
      s"SELECT grp, sum(m) AS sm FROM $src GROUP BY grp " +
        "HAVING count(*) > 70")
    assert(agg.queryExecution.executedPlan.toString.contains(e.root),
      "unselected agg-call HAVING must decline the rewrite")
    assert(sortedRows(agg) == sortedRows(
      direct.where("n > 70").select(col("grp"), col("sm"))))

    // ... but a SELECT-listed aggregate call binds to its item's
    // alias and the HAVING serves (same rule as ORDER BY)
    val aggBound = GraftSql.execute(spark,
      s"SELECT grp, count(*) AS n, sum(m) AS sm FROM $src GROUP BY grp " +
        "HAVING count(*) > 70 AND sm > 0")
    assert(!aggBound.queryExecution.executedPlan.toString.contains(e.root),
      "SELECT-listed agg-call HAVING must serve")
    assert(sortedRows(aggBound) == sortedRows(
      direct.where("n > 70 AND sm > 0")))

    // REFRESH ... FULL: always applies, one recompute, same contents
    GraftSql.execute(spark, s"DELETE FROM $src WHERE id % 8 = 5")
    val r = GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_hav FULL")
      .collect().head
    assert(r.getBoolean(2), "FULL refresh must always apply")
    assert(sortedRows(GraftMvs.read(spark, "mv_hav")) == sortedRows(direct))

    // an aggregate call in ORDER BY that the SELECT does not list has
    // nothing served to bind to — decline
    val sortAgg = GraftSql.execute(spark,
      s"SELECT grp, sum(m) AS sm FROM $src GROUP BY grp " +
        "ORDER BY count(*) DESC, grp")
    assert(sortAgg.queryExecution.executedPlan.toString.contains(e.root),
      "ORDER BY with an unselected aggregate call must decline the rewrite")

    // ... but when the SELECT itself lists the aggregate, the sort
    // binds to that item's output alias and the serve holds
    val sortBound = GraftSql.execute(spark,
      s"SELECT grp, count(*) AS n, sum(m) AS sm FROM $src GROUP BY grp " +
        "ORDER BY count(*) DESC, grp LIMIT 3")
    assert(!sortBound.queryExecution.executedPlan.toString.contains(e.root),
      "ORDER BY over a SELECT-listed aggregate must serve")
    assert(sortBound.collect().map(_.getInt(0)).toSeq ==
      direct.orderBy(col("n").desc, col("grp")).limit(3).collect()
        .map(_.getInt(0)).toSeq)

    // a QUALIFIED ORDER BY ref resolves in vanilla execution but not
    // against the served plan — decline
    val sortQual = GraftSql.execute(spark,
      s"SELECT grp, sum(m) AS sm FROM $src t GROUP BY grp ORDER BY t.grp")
    assert(sortQual.queryExecution.executedPlan.toString.contains(e.root),
      "a qualified ORDER BY reference must decline the rewrite")
    assert(sortedRows(sortQual) ==
      sortedRows(direct.select(col("grp"), col("sm"))))

    // the maintenance sweep: one statement refreshes every view
    GraftSql.execute(spark, s"DELETE FROM $src WHERE id % 12 = 7")
    val sweep = GraftSql.execute(spark, "REFRESH ALL MATERIALIZED VIEWS")
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(sweep.get("mv_hav").contains(true),
      s"sweep must refresh mv_hav: $sweep")
    assert(sortedRows(GraftMvs.read(spark, "mv_hav")) == sortedRows(direct))
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_hav")
  }

  test("BUCKETED BY store: every refresh batch keeps the layout") {
    val (src, base, _) = newSource("bkt", seed(2000))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_bkt LOCATION '$base/mv' " +
        s"BUCKETED BY (4) AS SELECT grp, count(*) AS n, sum(m) AS sm, " +
        s"min(m) AS mn, max(m) AS mx FROM $src GROUP BY grp")
    def expected: DataFrame = {
      val e = GraftSqlTables.lookup(Seq(src)).get
      Sinks.readCommitted(spark, e.root, new TxnManifest(e.manifestPath))
        .groupBy("grp").agg(count(lit(1)).as("n"), sum("m").as("sm"),
          min("m").as("mn"), max("m").as("mx"))
    }
    def markers(): (Int, Int) = {
      val man = new TxnManifest(s"$base/mv/manifest.tsv")
      val dirs = man.committedDirs(s"$base/mv/data")
        .filterNot(_.contains("_dv"))
      (dirs.size, dirs.count(d =>
        new java.io.File(d, graft.sources.Bucketing.Marker).exists()))
    }
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_bkt")
    val (d1, m1) = markers()
    assert(d1 > 0 && m1 == d1,
      s"bootstrap: $m1 of $d1 committed dirs carry the bucket marker")
    assert(sortedRows(GraftMvs.read(spark, "mv_bkt")) == sortedRows(expected))

    // fold arm (insert-only) and recompute arm (delete) both route
    // their merge output through the bucket layout
    val e = GraftSqlTables.lookup(Seq(src)).get
    val b1 = new TxnManifest(e.manifestPath).committed().keys.max + 1
    StatsSinks.appendBatchStats(seed(2080).where("id >= 2000"), e.root, b1)
    new TxnManifest(e.manifestPath).commit(b1, Seq(s"${e.root}/batch=$b1"))
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_bkt")
    GraftSql.execute(spark, s"DELETE FROM $src WHERE id % 5 = 3")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_bkt")
    val (d2, m2) = markers()
    assert(m2 == d2,
      s"after fold+recompute refreshes: $m2 of $d2 dirs carry the marker")
    assert(sortedRows(GraftMvs.read(spark, "mv_bkt")) == sortedRows(expected))

    // DESCRIBE / SHOW surface the layout and freshness
    val desc = GraftSql.execute(spark, "DESCRIBE MATERIALIZED VIEW mv_bkt")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("bucketed_by") == "4,grp")
    assert(desc("is_fresh") == "true")
    val shown = GraftSql.execute(spark, "SHOW MATERIALIZED VIEWS")
      .collect().map(r => (r.getString(0), r.getBoolean(3))).toMap
    assert(shown.get("mv_bkt").contains(true))

    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_bkt")
  }

  test("OPTIMIZE MATERIALIZED VIEW: bin-packs accumulated refresh batches") {
    // the canonical accumulating store is the time-bucket shape:
    // every refresh wave lands NEW groups (pure-insert merge appends
    // a dir; old dirs stay untouched), so a long-lived view collects
    // one dir per refresh — exactly what OPTIMIZE collapses
    val (src, base, man) = newSource("opt", seed(500))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_opt LOCATION '$base/mv' " +
        s"BUCKETED BY (4) AS SELECT id DIV 500 AS b, count(*) AS n, " +
        s"sum(m) AS sm FROM $src GROUP BY b")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_opt")
    val e = GraftSqlTables.lookup(Seq(src)).get
    for (wave <- 1 to 3) {
      val b = new TxnManifest(e.manifestPath).committed().keys.max + 1
      StatsSinks.appendBatchStats(
        seed(500 * (wave + 1)).where(s"id >= ${500 * wave}"), e.root, b)
      man.commit(b, Seq(s"${e.root}/batch=$b"))
      GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_opt")
    }
    def expected: DataFrame =
      Sinks.readCommitted(spark, e.root, new TxnManifest(e.manifestPath))
        .groupBy((col("id") / 500).cast("long").as("b"))
        .agg(count(lit(1)).as("n"), sum("m").as("sm"))
    def markers(): (Int, Int) = {
      val m = new TxnManifest(s"$base/mv/manifest.tsv")
      val dirs = m.committedDirs(s"$base/mv/data").filterNot(_.contains("_dv"))
      (dirs.size, dirs.count(dd =>
        new java.io.File(dd, graft.sources.Bucketing.Marker).exists()))
    }
    val (d1, _) = markers()
    assert(d1 > 1, s"precondition: new-group refreshes must accumulate " +
      s"dirs, got $d1")
    val before = sortedRows(GraftMvs.read(spark, "mv_opt"))
    assert(before == sortedRows(expected))
    GraftSql.execute(spark, "OPTIMIZE MATERIALIZED VIEW mv_opt")
    val (d2, m2) = markers()
    assert(d2 == 1 && m2 == 1,
      s"compaction must collapse the store to one marked dir, got $d2/$m2")
    assert(sortedRows(GraftMvs.read(spark, "mv_opt")) == before)
    assert(GraftSql.execute(spark, "DESCRIBE MATERIALIZED VIEW mv_opt")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      .apply("is_fresh") == "true",
      "compaction must carry freshness forward")
    // the next incremental refresh rides on the compacted store
    GraftSql.execute(spark, s"DELETE FROM $src WHERE id % 7 = 1")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_opt")
    assert(sortedRows(GraftMvs.read(spark, "mv_opt")) == sortedRows(expected))

    // VACUUM reclaims the replaced dirs' bytes: DRY RUN reports
    // without deleting, the real run deletes exactly those dirs, the
    // store's contents are untouched
    val dataDir = new java.io.File(s"$base/mv/data")
    def onDisk(): Set[String] = Option(dataDir.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).toSet
    val liveDirs = new TxnManifest(s"$base/mv/manifest.tsv")
      .committedDirs(s"$base/mv/data")
      .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    assert((onDisk() -- liveDirs).nonEmpty,
      "precondition: compaction must have left un-named dirs behind")
    val dry = GraftSql.execute(spark,
      "VACUUM MATERIALIZED VIEW mv_opt RETAIN 0 HOURS DRY RUN")
      .collect().map(_.getString(0)).toSet
    assert(dry.nonEmpty && (onDisk() -- liveDirs).nonEmpty,
      "DRY RUN must report and delete nothing")
    GraftSql.execute(spark, "VACUUM MATERIALIZED VIEW mv_opt RETAIN 0 HOURS")
    assert((onDisk() -- liveDirs).isEmpty,
      s"vacuum must reclaim the un-named dirs, left: ${onDisk() -- liveDirs}")
    assert(sortedRows(GraftMvs.read(spark, "mv_opt")) == sortedRows(expected),
      "vacuum must not touch the live store")
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_opt")
  }

  test("MV over a bucketed CDF catalog table: refresh rides the feed") {
    val cat = "graft"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.plans.GraftCatalog].getName)
    if (spark.conf.getOption(s"spark.sql.catalog.$cat.warehouse").isEmpty)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
        java.nio.file.Files.createTempDirectory("graft_mvcat_wh_").toString)
    GraftSql.execute(spark, s"DROP TABLE IF EXISTS $cat.mvfact")
    GraftSql.execute(spark,
      s"""CREATE TABLE $cat.mvfact (id BIGINT, grp INT, v BIGINT)
         |USING `graft-manifest`
         |TBLPROPERTIES ('keys' = 'id', 'cdf' = 'true',
         |  'bucketBy' = '4,id')""".stripMargin)
    seed(500).select(col("id"), col("grp"),
      coalesce(col("m"), lit(0L)).as("v"))
      .createOrReplaceTempView("mv_cat_seed")
    GraftSql.execute(spark,
      s"INSERT INTO $cat.mvfact SELECT * FROM mv_cat_seed")
    val base = tempBase("cat")
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_cat LOCATION '$base/mv' AS " +
        s"SELECT grp, count(*) AS n, sum(v) AS sv FROM $cat.mvfact " +
        "GROUP BY grp")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_cat")
    def expected: DataFrame = spark.sql(
      s"SELECT grp, count(*) AS n, sum(v) AS sv FROM $cat.mvfact GROUP BY grp")
    assert(sortedRows(GraftMvs.read(spark, "mv_cat")) == sortedRows(expected))
    // bucket-preserving DML on the source feeds the same CDF the MV
    // consumes; the bucketed layout never perturbs the delta
    GraftSql.execute(spark, s"DELETE FROM $cat.mvfact WHERE id % 6 = 1")
    GraftSql.execute(spark,
      s"UPDATE $cat.mvfact SET v = v + 10 WHERE id % 9 = 2")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_cat")
    assert(sortedRows(GraftMvs.read(spark, "mv_cat")) == sortedRows(expected))
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_cat")
    GraftSql.execute(spark, s"DROP TABLE $cat.mvfact")
  }

  test("source column rename breaks the view LOUDLY, never silently") {
    val (src, base, _) = newSource("ren", seed(100))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_ren LOCATION '$base/mv' AS " +
        s"SELECT grp, sum(m) AS sm FROM $src GROUP BY grp")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_ren")
    // swap the registered schema out from under the view (the
    // blunt-instrument stand-in for a rename): refresh must name the
    // missing column, not fold garbage
    val e = GraftSqlTables.lookup(Seq(src)).get
    val renamed = Sinks.readCommitted(spark, e.root,
      new TxnManifest(e.manifestPath)).withColumnRenamed("m", "m2")
    val before = sortedRows(GraftMvs.read(spark, "mv_ren"))
    val root2 = s"$base/src2"
    val man2 = new TxnManifest(s"$base/manifest2.tsv")
    StatsSinks.appendBatchStats(renamed, root2, 0)
    man2.commit(0, Seq(s"$root2/batch=0"))
    StatsSinks.appendBatchStats(
      seed(120).where("id >= 100").withColumnRenamed("m", "m2"), root2, 1)
    man2.commit(1, Seq(s"$root2/batch=1"))
    GraftSqlTables.register(src, GraftSqlTables.Entry(root2,
      s"$base/manifest2.tsv", keys = Seq("id"), cdf = true))
    intercept[Exception](
      GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_ren"))
    // the failed refresh must leave the store intact (the state file
    // written before the commit is inert)
    assert(sortedRows(GraftMvs.read(spark, "mv_ren")) == before,
      "a failed refresh must not corrupt the stored accumulators")
    GraftMvs.drop("mv_ren")
  }

  test("expression group keys: computed buckets maintain through DML") {
    val (src, base, _) = newSource("kx", seed(600))
    // two computed keys: an arithmetic bucket and a CASE label; min
    // and sum exercise both the fold and recompute arms on them
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_kx LOCATION '$base/mv' AS " +
        s"SELECT id % 7 AS b, CASE WHEN grp < 2 THEN 'lo' ELSE 'hi' END " +
        s"AS band, count(*) AS n, sum(m) AS sm, max(m) AS mx " +
        s"FROM $src GROUP BY b, band")
    def expected: DataFrame = {
      val e = GraftSqlTables.lookup(Seq(src)).get
      Sinks.readCommitted(spark, e.root, new TxnManifest(e.manifestPath))
        .withColumn("b", col("id") % 7)
        .withColumn("band", when(col("grp") < 2, "lo").otherwise("hi"))
        .groupBy("b", "band").agg(count(lit(1)).as("n"),
          sum("m").as("sm"), max("m").as("mx"))
    }
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_kx")
    assert(sortedRows(GraftMvs.read(spark, "mv_kx")) == sortedRows(expected))
    // insert-only wave folds; a delete recomputes its groups
    val e = GraftSqlTables.lookup(Seq(src)).get
    val b1 = new TxnManifest(e.manifestPath).committed().keys.max + 1
    StatsSinks.appendBatchStats(seed(660).where("id >= 600"), e.root, b1)
    new TxnManifest(e.manifestPath).commit(b1, Seq(s"${e.root}/batch=$b1"))
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_kx")
    assert(sortedRows(GraftMvs.read(spark, "mv_kx")) == sortedRows(expected))
    GraftSql.execute(spark, s"DELETE FROM $src WHERE id % 13 = 4")
    GraftSql.execute(spark, s"UPDATE $src SET m = m + 2 WHERE id % 17 = 6")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_kx")
    assert(sortedRows(GraftMvs.read(spark, "mv_kx")) == sortedRows(expected))
    val desc = GraftSql.execute(spark, "DESCRIBE MATERIALIZED VIEW mv_kx")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.contains("key_expr (b)") && desc.contains("key_expr (band)"))

    // acceleration: the same computed-key expression (any alias)
    // serves from the store; a coarser grain over one computed key
    // rolls up; a DIFFERENT expression declines
    val accel = GraftSql.execute(spark,
      s"SELECT id % 7 AS bucket, CASE WHEN grp < 2 THEN 'lo' ELSE 'hi' " +
        s"END AS band, sum(m) AS total FROM $src GROUP BY bucket, band")
    assert(!accel.queryExecution.executedPlan.toString.contains(e.root),
      "a computed-key query must serve from the fresh view")
    assert(sortedRows(accel) == sortedRows(expected.select(
      col("b").as("bucket"), col("band"), col("sm").as("total"))))
    val coarse = GraftSql.execute(spark,
      s"SELECT id % 7 AS b, count(*) AS n FROM $src GROUP BY b")
    assert(!coarse.queryExecution.executedPlan.toString.contains(e.root),
      "the coarser computed-key grain must roll up from the store")
    assert(sortedRows(coarse) == sortedRows(
      expected.groupBy("b").agg(sum("n").cast("long").as("n"))))
    val other = GraftSql.execute(spark,
      s"SELECT id % 9 AS b9, count(*) AS n FROM $src GROUP BY b9")
    assert(other.queryExecution.executedPlan.toString.contains(e.root),
      "a different key expression must decline the rewrite")
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_kx")

    // GROUP BY repeating the expression verbatim also works
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_kx2 LOCATION '$base/mv2' AS " +
        s"SELECT id % 5 AS b5, count(*) AS n FROM $src GROUP BY id % 5")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_kx2")
    assert(GraftMvs.read(spark, "mv_kx2").count() == 5)
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_kx2")

    // refusals: nondeterministic and evaluation-time-dependent keys,
    // and a key alias shadowing a source column
    def refuse(select: String, frag: String): Unit = {
      val ex = intercept[Exception](GraftSql.execute(spark,
        s"CREATE MATERIALIZED VIEW mv_kxbad LOCATION '$base/bad' " +
          s"AS $select"))
      assert(ex.getMessage != null && ex.getMessage.contains(frag),
        s"message '${ex.getMessage}' should mention '$frag'")
    }
    refuse(s"SELECT CAST(rand() * 10 AS INT) AS r, count(*) AS n " +
      s"FROM $src GROUP BY r", "nondeterministic")
    refuse(s"SELECT date_add(current_date(), grp) AS age, count(*) AS n " +
      s"FROM $src GROUP BY age", "evaluation time")
    refuse(s"SELECT id % 3 AS grp, count(*) AS n FROM $src GROUP BY grp",
      "shadows")
  }

  test("source re-registered elsewhere: never fresh, FULL re-pins") {
    val (src, base, _) = newSource("mov", seed(100))
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_mov LOCATION '$base/mv' AS " +
        s"SELECT grp, count(*) AS n FROM $src GROUP BY grp")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_mov")

    // same NAME, different manifest, version numbers coincide (both
    // at batch 0) — versions alone would claim freshness
    val root2 = s"$base/src2"
    val man2 = new TxnManifest(s"$base/manifest2.tsv")
    StatsSinks.appendBatchStats(seed(40), root2, 0)
    man2.commit(0, Seq(s"$root2/batch=0"))
    GraftSqlTables.register(src, GraftSqlTables.Entry(root2,
      s"$base/manifest2.tsv", keys = Seq("id"), cdf = true))

    // the rewrite must NOT serve (the view is over the OLD manifest)
    val q = s"SELECT grp, count(*) AS n FROM $src GROUP BY grp"
    val direct = GraftSql.execute(spark, q)
    assert(direct.queryExecution.executedPlan.toString.contains(root2),
      "a view over a re-registered source must never serve")
    // incremental refresh refuses; FULL rebuilds over the new data
    val ex = intercept[Exception](
      GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_mov"))
    assert(ex.getMessage.contains("re-registered"), ex.getMessage)
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_mov FULL")
    assert(sortedRows(GraftMvs.read(spark, "mv_mov")) ==
      sortedRows(seed(40).groupBy("grp").agg(count(lit(1)).as("n"))))
    assert(!GraftSql.execute(spark, q).queryExecution.executedPlan
      .toString.contains(root2), "re-pinned view serves again")
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_mov")
  }

  test("FROM substitution: registered tables and views without temp views") {
    val (src, base, _) = newSource("sub", seed(50))
    val e = GraftSqlTables.lookup(Seq(src)).get
    // a plain SELECT over the registered graft table now resolves
    val rows = GraftSql.execute(spark,
      s"SELECT id, m FROM $src WHERE grp = 1 ORDER BY id").collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(0) % 4 == 1))
    // and a registered MV is addressable FROM SQL, serving current contents
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW mv_sub LOCATION '$base/mv' AS " +
        s"SELECT grp, count(*) AS n FROM $src GROUP BY grp")
    GraftSql.execute(spark, "REFRESH MATERIALIZED VIEW mv_sub")
    val mvRows = GraftSql.execute(spark,
      "SELECT grp, n FROM mv_sub WHERE grp != 0 ORDER BY grp").collect()
    assert(mvRows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(mvRows.map(_.getLong(1)).sum ==
      Sinks.readCommitted(spark, e.root, new TxnManifest(e.manifestPath))
        .where("grp != 0").count())
    GraftSql.execute(spark, "DROP MATERIALIZED VIEW mv_sub")
  }
}
