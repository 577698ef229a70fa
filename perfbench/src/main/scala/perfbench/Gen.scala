package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Input sizes. `full` is what a run measures; `tiny` is for the
  * benchmark's own tests. The README states what each size means. Of the
  * full sizes only `batchSize` has a source: the reference's orders loop
  * extracts keyset batches of TOP 2000 (BASELINE.md). The others were
  * chosen so that one round takes a few seconds and its counts repeat
  * from seed to seed. */
final case class Sizes(
    orders: Int, batchSize: Int, sourceFiles: Int, customers: Int,
    baseRows: Int, baseDirs: Int, changeBatches: Int, changesPerBatch: Int,
    readSpan: Int, docBatches: Int, docsPerBatch: Int)

object Sizes {
  val full = Sizes(orders = 14001, batchSize = 2000, sourceFiles = 4,
    customers = 2000, baseRows = 20000, baseDirs = 8, changeBatches = 2,
    changesPerBatch = 150, readSpan = 400, docBatches = 4, docsPerBatch = 400)
  val tiny = Sizes(orders = 1201, batchSize = 400, sourceFiles = 3,
    customers = 100, baseRows = 600, baseDirs = 3, changeBatches = 2,
    changesPerBatch = 40, readSpan = 50, docBatches = 2, docsPerBatch = 60)
}

/** `migrate` source: V1 orders (the keyset source), their line items and
  * the customer id map, plus the dirt the generator planted. */
final case class MigrateInput(ordersDir: String, linesDir: String,
                              syncDir: String, orders: Int, maxKey: Long,
                              plantedOrphans: Int, blankStatus: Int,
                              badDates: Int, createdSecSum: Long)

/** One row of the `upsert` table. */
final case class Rec(id: Long, grp: Int, amount: BigDecimal, status: String)
/** One change: op is U (update a live key), D (delete one) or I (insert a new key). */
final case class Change(op: String, rec: Rec)

final case class UpsertInput(base: Vector[Rec], batches: Vector[Vector[Change]],
                             changeDirs: Vector[String],
                             ranges: Vector[(Long, Long)])

/** `dedup` corpus: batch directories, every text by id, and the planted
  * (original, copy, edit rate) near-duplicates. */
final case class DedupInput(batchDirs: Vector[String], texts: Map[Long, String],
                            planted: Vector[(Long, Long, Double)])

/** Seeded input generators. They run before any clock starts; the same
  * seed gives the same inputs, and the sizes never depend on the seed. */
object Gen {
  private val fmt1 = DateTimeFormatter.ofPattern("MMM d yyyy h:mma", Locale.US)
  private val fmt2 = DateTimeFormatter.ofPattern("M/d/yyyy h:mm:ss a", Locale.US)
  private val statuses = Vector("paid", "PENDING", "Shipped", "cancelled")

  private def pad(r: Random, s: String): String =
    (" " * r.nextInt(3)) + s + (" " * r.nextInt(3))

  private def money(r: Random, max: Int): BigDecimal =
    BigDecimal(r.nextInt(max * 100)) / 100

  /** Write each group of rows as one parquet file (the keyset sources are
    * written in key order, one row group per file). */
  private def writeFiles(spark: SparkSession, files: Seq[Seq[Row]], schema: StructType,
                         dir: String): Unit = {
    spark.createDataFrame(
      spark.sparkContext.parallelize(files, files.size).flatMap(identity), schema)
      .write.parquet(dir)
  }

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
                    dir: String): Unit = writeFiles(spark, Seq(rows), schema, dir)

  def migrate(spark: SparkSession, dir: String, seed: Long, s: Sizes): MigrateInput = {
    val r = new Random(seed * 7919 + 1)
    // old ids are sparse and shuffled; orphans use ids the map never has
    val oldIds = r.shuffle((0 until s.customers).map(i => 100000L + 7L * i))
    val sync = oldIds.zipWithIndex.map { case (o, i) => Row(o, (i + 1).toLong) }
    val orphanEvery = 50 // every 50th order names an unmapped customer
    // file f holds orders [f * perFile, (f + 1) * perFile) and their lines,
    // so file boundaries fall on the same order keys whatever the seed
    val perFile = (s.orders + s.sourceFiles - 1) / s.sourceFiles
    val orders = Vector.fill(s.sourceFiles)(Vector.newBuilder[Row])
    val lines = Vector.fill(s.sourceFiles)(Vector.newBuilder[Row])
    var key = 0L
    var lineKey = 0L
    var orphans, blank, bad = 0
    var createdSum = 0L
    for (i <- 0 until s.orders) {
      key += 1 + r.nextInt(3)
      val oldCust: java.lang.Long =
        if (i % orphanEvery == 7) { orphans += 1; 900000L + r.nextInt(5000) }
        else r.nextInt(100) match {
          case x if x < 4 => -1L
          case 4          => null
          case _          => oldIds(r.nextInt(oldIds.size))
        }
      val status =
        if (r.nextInt(100) < 3) { blank += 1; if (r.nextBoolean()) " " else "NULL" }
        else pad(r, statuses(r.nextInt(statuses.size)))
      val sec = 1609459200L + r.nextInt(3 * 365 * 86400)
      val t = Instant.ofEpochSecond(sec).atOffset(ZoneOffset.UTC)
      val created = r.nextInt(100) match {
        case x if x < 5 => bad += 1; "n/a"
        case x if x < 55 =>
          createdSum += sec - sec % 60 // the first format has no seconds
          fmt1.format(t)
        case _ => createdSum += sec; fmt2.format(t)
      }
      val total = if (r.nextInt(100) < 2) "-1" else pad(r, money(r, 900).toString)
      orders(i / perFile) += Row(key, oldCust, status, created, total)
      for (ln <- 1 to 1 + r.nextInt(5)) {
        val qty = if (r.nextInt(100) < 2) -1 else 1 + r.nextInt(9)
        val line = Seq(key, ln, pad(r, s"sku-${r.nextInt(400)}"), qty,
          money(r, 200).toString)
        val copies = if (r.nextInt(100) < 5) 2 else 1 // re-exported rows
        for (_ <- 0 until copies) {
          lineKey += 1
          lines(i / perFile) += Row.fromSeq(lineKey +: line)
        }
      }
    }
    val ordersSchema = StructType(Seq(
      StructField("row_id", LongType, false),
      StructField("old_customer_id", LongType),
      StructField("status", StringType),
      StructField("created_text", StringType),
      StructField("total_text", StringType)))
    val linesSchema = StructType(Seq(
      StructField("line_row_id", LongType, false),
      StructField("order_row_id", LongType, false),
      StructField("line_no", IntegerType, false),
      StructField("sku", StringType),
      StructField("qty", IntegerType),
      StructField("price_text", StringType)))
    val syncSchema = StructType(Seq(
      StructField("old_cust", LongType, false),
      StructField("customer_id", LongType, false)))
    val in = MigrateInput(s"$dir/orders_v1", s"$dir/lines_v1", s"$dir/sync_customers",
      s.orders, key, orphans, blank, bad, createdSum)
    writeFiles(spark, orders.map(_.result()), ordersSchema, in.ordersDir)
    writeFiles(spark, lines.map(_.result()), linesSchema, in.linesDir)
    write(spark, sync, syncSchema, in.syncDir)
    in
  }

  val upsertSchema: StructType = StructType(Seq(
    StructField("id", LongType, false),
    StructField("grp", IntegerType, false),
    StructField("amount", DecimalType(12, 2), false),
    StructField("status", StringType, false)))

  def row(x: Rec): Row = Row(x.id, x.grp, x.amount.bigDecimal, x.status)

  def upsert(spark: SparkSession, dir: String, seed: Long, s: Sizes): UpsertInput = {
    val r = new Random(seed * 7919 + 2)
    def rec(id: Long) = Rec(id, r.nextInt(32), money(r, 1000), statuses(r.nextInt(4)))
    val base = (0 until s.baseRows).map(i => rec(i.toLong)).toVector
    // the generator folds its own stream so that U and D always name a
    // live key and I a new one. Half the U/D keys come from the hot tenth
    // of the key range; the other half cycle through the base batch
    // ranges, so every change batch touches every base directory
    val live = scala.collection.mutable.LinkedHashSet(base.map(_.id): _*)
    var nextId = s.baseRows.toLong
    val hot = s.baseRows / 10
    val stratum = s.baseRows / s.baseDirs
    val batches = (0 until s.changeBatches).map { _ =>
      val used = scala.collection.mutable.HashSet.empty[Long]
      var spread = 0
      def pick(): Long = {
        val cold = r.nextBoolean()
        if (cold) spread += 1
        var k = -1L
        while (k < 0 || used(k) || !live(k))
          k = if (!cold) r.nextInt(hot).toLong
              else (spread % s.baseDirs) * stratum + r.nextInt(stratum).toLong
        used += k
        k
      }
      val b = (0 until s.changesPerBatch).map { _ =>
        r.nextInt(100) match {
          case x if x < 60 => Change("U", rec(pick()))
          case x if x < 80 => Change("D", rec(pick()))
          case _ => nextId += 1; Change("I", rec(nextId - 1))
        }
      }.toVector
      b.foreach { c => if (c.op == "D") live -= c.rec.id else live += c.rec.id }
      b
    }.toVector
    val chgSchema = upsertSchema.add(StructField("op", StringType, false))
    val dirs = batches.indices.map(i => s"$dir/changes/batch=$i").toVector
    batches.zip(dirs).foreach { case (b, d) =>
      write(spark, b.map(c => Row.fromSeq(row(c.rec).toSeq :+ c.op)), chgSchema, d)
    }
    val ranges = batches.indices.map { _ =>
      val lo = r.nextInt(s.baseRows - s.readSpan).toLong
      (lo, lo + s.readSpan - 1)
    }.toVector
    UpsertInput(base, batches, dirs, ranges)
  }

  /** Edit rates of the planted copies: the first two sit well above the
    * 0.5 Jaccard threshold, the last two near and below it. */
  val editRates = Vector(0.02, 0.05, 0.10, 0.30)

  def dedup(spark: SparkSession, dir: String, seed: Long, s: Sizes): DedupInput = {
    val r = new Random(seed * 7919 + 3)
    val vocab = (0 until 4000).map(i => "w" + Integer.toString(i * 7 + 11, 36)).toVector
    val texts = scala.collection.mutable.LinkedHashMap.empty[Long, Vector[String]]
    val planted = Vector.newBuilder[(Long, Long, Double)]
    val n = s.docBatches * s.docsPerBatch
    for (i <- 1 to n) {
      val id = i.toLong
      // a quarter of the documents copy an earlier one with edits
      if (i > 10 && r.nextInt(4) == 0) {
        val src = 1L + r.nextInt(i - 1)
        val rate = editRates(r.nextInt(editRates.size))
        val words = texts(src).toArray
        val edits = math.round(rate * words.length).toInt
        r.shuffle(words.indices.toVector).take(edits)
          .foreach(p => words(p) = vocab(r.nextInt(vocab.size)))
        texts(id) = words.toVector
        planted += ((src, id, rate))
      } else
        texts(id) = Vector.fill(60 + r.nextInt(41))(vocab(r.nextInt(vocab.size)))
    }
    val schema = StructType(Seq(StructField("doc_id", LongType, false),
      StructField("text", StringType, false)))
    val all = texts.toVector
    val dirs = (0 until s.docBatches).map { b =>
      val d = s"$dir/corpus/batch=$b"
      write(spark, all.slice(b * s.docsPerBatch, (b + 1) * s.docsPerBatch)
        .map { case (id, w) => Row(id, w.mkString(" ")) }, schema, d)
      d
    }.toVector
    DedupInput(dirs, all.map { case (id, w) => id -> w.mkString(" ") }.toMap,
      planted.result())
  }
}
