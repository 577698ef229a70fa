package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Cdc, Cleanse, Dedup, FkRemap, Repair, Reshape}
import graft.plans.{GraftMvs, GraftSql, GraftSqlTables}
import graft.sources.{Sinks, StatsSinks, TxnManifest}
import graft.text.{DedupIndex, MinHash}
import graft.util.CacheScope

/** What every workload gets: the session, its private temporary
  * directory, the seed, the input sizes and the span recorder. */
final case class Ctx(spark: SparkSession, tmp: String, seed: Long,
                     sizes: Sizes, trace: Trace)

/** One workload. `generate` makes the inputs (outside every clock);
  * `round` runs the first `limit` units of a round, resetting its own
  * state first, so that the warm-up and the timed round start alike;
  * `verify` checks the timed round's outputs afterwards. */
abstract class Workload(c: Ctx) {
  protected val spark: SparkSession = c.spark
  protected def span[A](name: String)(body: => A): A = c.trace.span(name)(body)

  def unitsPerRound: Int
  def generate(): Unit
  def round(r: Int, u: Units, limit: Int): Unit
  def verify(): Seq[String]
  /** On-disk bytes of the data the timed round's tables hold live. */
  def bytesStored(): Long
  /** Counts the per-layer ratios are made of, over the timed round. */
  val stats: mutable.Map[String, Long] = mutable.Map.empty[String, Long].withDefaultValue(0L)

  protected def tally(u: Units, key: String, n: Long): Unit =
    if (u.counted) stats(key) += n
}

object Workload {
  val names = Seq("migrate", "upsert", "dedup")

  def apply(name: String, c: Ctx): Workload = name match {
    case "migrate" => new Migrate(c)
    case "upsert"  => new Upsert(c)
    case "dedup"   => new DedupWorkload(c)
    case other =>
      throw new IllegalArgumentException(
        s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  /** Bytes of the data files (not checksums, markers or logs) under `dirs`. */
  def dataBytes(spark: SparkSession, dirs: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    def walk(p: org.apache.hadoop.fs.Path): Long = {
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) 0L
      else fs.listStatus(p).toSeq.map { st =>
        val n = st.getPath.getName
        if (n.startsWith(".") || n.startsWith("_")) 0L
        else if (st.isDirectory) walk(st.getPath)
        else st.getLen
      }.sum
    }
    dirs.map(d => walk(new org.apache.hadoop.fs.Path(d))).sum
  }
}

/** The paper's loop: keyset batches of V1 orders through `Cdc.runLoop`,
  * each transformed (FK remap, cleanse and repair, line dedup, JSON
  * nesting) and landed with its watermark. One unit is one batch; one
  * round drains the whole source into a fresh target. */
final class Migrate(c: Ctx) extends Workload(c) {
  private val s = c.sizes
  private var in: MigrateInput = _
  private var orders, lines, sync: DataFrame = _
  private var last: (String, Cdc.WatermarkStore, TxnManifest) = _
  private var scans: SourceScans = _

  def unitsPerRound: Int = (s.orders + s.batchSize - 1) / s.batchSize

  def generate(): Unit = {
    require(s.orders % s.batchSize != 0,
      "an exactly-full last batch would add an empty iteration to every round")
    in = Gen.migrate(spark, s"${c.tmp}/input", c.seed, s)
    scans = new SourceScans(in.ordersDir)
    spark.listenerManager.register(scans)
    orders = spark.read.parquet(in.ordersDir)
    lines = spark.read.parquet(in.linesDir)
    sync = spark.read.parquet(in.syncDir)
  }

  /** The per-batch transform. It only builds a plan; `wm` is the batch's
    * start watermark, which bounds the child-table scan from below the
    * same way the keyset scan is bounded. */
  private def transform(batch: DataFrame, wm: Long): DataFrame = {
    val oldCust = when(col("old_customer_id") =!= -1L, col("old_customer_id"))
    val header = FkRemap.remap(batch.withColumn("old_cust", oldCust), sync, Seq("old_cust"))
      .select(
        col("row_id").as("order_id"),
        Repair.fillWhere(col("customer_id"), col("old_cust").isNotNull, 0L).as("customer_id"),
        Repair.flag(col("old_cust").isNotNull && col("customer_id").isNull)
          .as("orphan_repaired"),
        Cleanse.normalizeUpper(Repair.fillConst(
          Cleanse.stripToNull(col("status"), Seq("", "NULL")), "unknown")).as("status"),
        Cleanse.parseDate2(Cleanse.stripToNull(col("created_text"))).as("created_at"),
        Repair.fillConst(
          Cleanse.stripToNull(col("total_text"), Seq("", "-1")).cast("decimal(12,2)"),
          lit(0).cast("decimal(12,2)")).as("total"))
    val items = lines.filter(col("order_row_id") > wm)
    val joined = header.join(items, header("order_id") === items("order_row_id"))
    val clean = Dedup.topPerGroup(joined, Seq("order_id", "line_no"), Seq(col("line_row_id")))
      .withColumn("sku", Cleanse.normalizeUpper(Cleanse.stripToNull(col("sku"))))
      .withColumn("qty", Repair.fillConst(when(col("qty") =!= -1, col("qty")), 0))
      .withColumn("amount", (col("qty") *
        Cleanse.stripToNull(col("price_text")).cast("decimal(10,2)")).cast("decimal(18,2)"))
    Reshape.jsonAgg(clean,
      Seq("order_id", "customer_id", "orphan_repaired", "status", "created_at", "total"),
      Seq(col("line_no"), col("sku"), col("qty"), col("amount")), "lines_json")
  }

  def round(r: Int, u: Units, limit: Int): Unit = {
    val dir = s"${c.tmp}/migrate/round$r"
    val root = s"$dir/orders"
    val store = new Cdc.WatermarkStore(spark, s"$dir/watermark.tsv", initial = 0L)
    val man = new TxnManifest(s"$dir/manifest.tsv")
    var batches = 0
    val tf: DataFrame => DataFrame = b => {
      if (batches > 0) u.split(0) // the previous batch has committed
      batches += 1
      span("ops.transform")(transform(b, store.read("orders")))
    }
    val sink: (DataFrame, Long) => Unit = (df, _) => {
      val id = batches - 1
      span("sources.append")(Sinks.appendBatch(df, root, id))
      span("sources.commit")(man.commit(id, Seq(s"$root/batch=$id")))
    }
    org.apache.spark.perfbench.BusBridge.drain(spark.sparkContext)
    val scanned0 = scans.rows
    u.begin()
    val n = try span("ops.cdc.loop")(
      Cdc.runLoop(orders, "row_id", "orders", store, s.batchSize, tf, sink,
        maxBatches = limit))
    finally u.end(if (limit == unitsPerRound) in.orders.toLong else 0L)
    require(n == limit && batches == n, s"$n batches, expected $limit")
    // untimed: orders scanned by the loop's queries (probe, keyset batches,
    // drained check), apart from the line items and id map they join
    org.apache.spark.perfbench.BusBridge.drain(spark.sparkContext)
    tally(u, "keyset_rows_scanned", scans.rows - scanned0)
    if (limit == unitsPerRound) tally(u, "rows_committed", in.orders.toLong)
    last = (root, store, man)
  }

  private val itemSchema = ArrayType(StructType(Seq(
    StructField("line_no", IntegerType), StructField("amount", DecimalType(18, 2)))))

  /** Decode the committed orders with plain Spark. */
  private def collect(out: DataFrame): Seq[Checks.OutOrder] = {
    val items = out.select(col("order_id"),
        explode(from_json(col("lines_json"), itemSchema)).as("l"))
      .groupBy("order_id")
      .agg(count(lit(1)).as("n"), sum(col("l.amount")).as("amt"))
    out.join(items, Seq("order_id"), "left")
      .select(col("order_id"), col("customer_id"), col("orphan_repaired"),
        col("status"), col("created_at").cast("long"), col("total"),
        coalesce(col("n"), lit(0L)), coalesce(col("amt"), lit(0).cast("decimal(28,2)")))
      .collect().toSeq.map { x =>
        Checks.OutOrder(x.getLong(0), if (x.isNullAt(1)) None else Some(x.getLong(1)),
          x.getInt(2), x.getString(3), if (x.isNullAt(4)) None else Some(x.getLong(4)),
          BigDecimal(x.getDecimal(5)), x.getLong(6).toInt, BigDecimal(x.getDecimal(7)))
      }
  }

  /** The one-shot computation, in plain Spark over the generated parquet. */
  def expected(): Checks.MigrateExpected = {
    val oid = col("old_customer_id")
    val ids = orders.select("row_id").collect().map(_.getLong(0)).toSeq
    val orphans = orders.filter(oid.isNotNull && oid =!= -1L)
      .join(sync, oid === sync("old_cust"), "left_anti").count()
    val t = trim(col("total_text"))
    val total = orders.select(sum(when(t === "-1", lit(0)).otherwise(t.cast("decimal(12,2)"))))
      .head().getDecimal(0)
    val distinct = lines.select("order_row_id", "line_no", "sku", "qty", "price_text").distinct()
    val amount = (when(col("qty") === -1, lit(0)).otherwise(col("qty")) *
      trim(col("price_text")).cast("decimal(10,2)")).cast("decimal(18,2)")
    val agg = distinct.agg(count(lit(1)), sum(amount)).head()
    Checks.MigrateExpected(ids, orphans, in.plantedOrphans, BigDecimal(total),
      agg.getLong(0), BigDecimal(agg.getDecimal(1)), in.maxKey, in.blankStatus,
      in.badDates, in.createdSecSum)
  }

  /** The last round's committed orders, its final watermark, and the
    * batches a second loop over the drained source commits. */
  def output(): Checks.MigrateOut = {
    val (root, store, man) = last
    var again = 0
    val second = Cdc.runLoop(orders, "row_id", "orders", store, s.batchSize,
      b => { again += 1; transform(b, store.read("orders")) },
      (df, _) => Sinks.appendBatch(df, s"$root-again", again))
    Checks.MigrateOut(collect(Sinks.readCommitted(spark, root, man)),
      store.read("orders"), second + again)
  }

  def verify(): Seq[String] = Checks.migrate(output(), expected())

  def bytesStored(): Long = Workload.dataBytes(spark, Seq(last._1))
}

/** A migrated table taking seeded change batches through SQL MERGE INTO,
  * each followed by a materialized-view refresh and a key-range read.
  * One unit is one such trio; a round replays the whole change stream
  * against a freshly loaded table. */
final class Upsert(c: Ctx) extends Workload(c) {
  private val s = c.sizes
  var in: UpsertInput = _
  private var mvs = Seq.empty[Map[Int, (Long, BigDecimal)]]
  private var reads = Seq.empty[Seq[(Long, BigDecimal)]]
  private var liveDirs: () => Seq[String] = () => Nil
  private val table = "pb_orders"
  private val view = "pb_totals"

  def unitsPerRound: Int = s.changeBatches

  def generate(): Unit = in = Gen.upsert(spark, s"${c.tmp}/input", c.seed, s)

  private val mergeSql =
    s"""MERGE INTO $table AS t USING pb_changes AS c ON t.id = c.id
       |WHEN MATCHED AND c.op = 'D' THEN DELETE
       |WHEN MATCHED THEN UPDATE SET *
       |WHEN NOT MATCHED AND c.op <> 'D' THEN INSERT *""".stripMargin

  /** Load the base rows as `baseDirs` key-range batches with stats
    * sidecars, register the table and bootstrap its view. */
  private def load(dir: String): Unit = {
    if (GraftMvs.lookup(view).isDefined) GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $view")
    val root = s"$dir/t"
    val man = new TxnManifest(s"$dir/manifest.tsv")
    val per = (s.baseRows + s.baseDirs - 1) / s.baseDirs
    in.base.grouped(per).zipWithIndex.foreach { case (rows, i) =>
      StatsSinks.appendBatchStats(spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(Gen.row), 1), Gen.upsertSchema), root, i)
      man.commit(i, Seq(s"$root/batch=$i"))
    }
    GraftSqlTables.register(table, GraftSqlTables.Entry(root, man.path,
      keys = Seq("id"), cdf = true))
    GraftSql.execute(spark, s"CREATE MATERIALIZED VIEW $view LOCATION '$dir/mv' AS " +
      s"SELECT grp, count(*) AS n, sum(amount) AS total FROM $table GROUP BY grp")
    GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW $view").collect()
    // one read of the loaded table, as any registered table has seen before
    // its first change: it fills the engine's per-directory schema memo,
    // so the first MERGE of a round costs what the later ones do
    GraftSql.execute(spark, s"SELECT count(*) FROM $table").collect()
    liveDirs = () => man.committedDirsAll() ++
      new TxnManifest(s"$dir/mv/manifest.tsv").committedDirsAll()
  }

  def round(r: Int, u: Units, limit: Int): Unit = {
    load(s"${c.tmp}/upsert/round$r")
    val views = mutable.ArrayBuffer.empty[Map[Int, (Long, BigDecimal)]]
    val got = mutable.ArrayBuffer.empty[Seq[(Long, BigDecimal)]]
    for ((changes, k) <- in.batches.zipWithIndex.take(limit)) {
      spark.read.parquet(in.changeDirs(k)).createOrReplaceTempView("pb_changes")
      val (lo, hi) = in.ranges(k)
      var rows = Seq.empty[(Long, BigDecimal)]
      u.unit {
        span("plans.merge")(GraftSql.execute(spark, mergeSql))
        span("plans.refresh")(GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW $view"))
        rows = span("plans.read")(GraftSql.execute(spark,
            s"SELECT id, amount FROM $table WHERE id BETWEEN $lo AND $hi").collect())
          .toSeq.map(x => x.getLong(0) -> BigDecimal(x.getDecimal(1)))
        changes.size.toLong
      }
      tally(u, "change_rows", changes.size.toLong)
      tally(u, "read_rows", rows.size.toLong)
      got += rows
      // untimed: the view as this refresh left it
      views += GraftMvs.read(spark, view).collect().map(x =>
        x.getAs[Int]("grp") -> (x.getAs[Long]("n"), BigDecimal(x.getAs[java.math.BigDecimal]("total"))))
        .toMap
    }
    mvs = views.toSeq
    reads = got.toSeq
  }

  /** The last round's final table, views, reads and change feed. */
  def output(): Checks.UpsertOut = {
    val rows = GraftSql.execute(spark, s"SELECT id, grp, amount, status FROM $table")
      .collect().toSeq.map(x => Rec(x.getLong(0), x.getInt(1), BigDecimal(x.getDecimal(2)), x.getString(3)))
    val feed = GraftSql.execute(spark, s"SELECT _change_type, count(*) FROM " +
        s"table_changes('$table', ${s.baseDirs}) GROUP BY _change_type")
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    Checks.UpsertOut(rows, mvs, reads, feed)
  }

  def verify(): Seq[String] = Checks.upsert(output(), in)

  def bytesStored(): Long = Workload.dataBytes(spark, liveDirs())
}

/** A corpus with planted near-duplicates ingested batch by batch through
  * the persisted MinHash index. One unit is one batch; a round ingests the
  * whole corpus into a fresh index. */
final class DedupWorkload(c: Ctx) extends Workload(c) {
  private val s = c.sizes
  var in: DedupInput = _
  private var pairs = Seq.empty[(Long, Long, Double)]
  private var lastIndex = Option.empty[String]
  val params = Checks.DedupParams(k = 3, threshold = 0.5, margin = 0.2, recallFloor = 0.87)

  def unitsPerRound: Int = s.docBatches

  def generate(): Unit = in = Gen.dedup(spark, s"${c.tmp}/input", c.seed, s)

  def round(r: Int, u: Units, limit: Int): Unit = {
    lastIndex.foreach(DedupIndex.dropIndex(spark, _))
    val index = s"${c.tmp}/dedup/round$r/index"
    lastIndex = Some(index)
    val found = mutable.ArrayBuffer.empty[(Long, Long, Double)]
    for ((dir, b) <- in.batchDirs.zipWithIndex.take(limit)) {
      val docs = spark.read.parquet(dir)
      u.unit {
        val got = span("text.ingest")(
          DedupIndex.ingestBatch(docs, "doc_id", "text", index, b,
            k = params.k, threshold = params.threshold).collect())
        span("util.release")(CacheScope.releaseAll())
        found ++= got.map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
        s.docsPerBatch.toLong
      }
    }
    pairs = found.toSeq
  }

  /** The last round's pairs, beside one-shot `MinHash.nearDupPairs`. */
  def output(): Checks.DedupOut = {
    val all = spark.read.parquet(in.batchDirs: _*)
    val oneShot = MinHash.nearDupPairs(all, "doc_id", "text",
        k = params.k, threshold = params.threshold)
      .select("a", "b", "jaccard").collect().toSeq
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    CacheScope.releaseAll()
    Checks.DedupOut(pairs, oneShot)
  }

  def verify(): Seq[String] = Checks.dedup(output(), in, params)

  def bytesStored(): Long = Workload.dataBytes(spark, lastIndex.toSeq)
}
