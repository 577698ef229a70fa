package perfbench

/** Output checks. Each takes what a workload produced, collected into
  * plain values, and what it should have produced, computed apart from
  * graft's operators; it returns one message per failed check. */
object Checks {

  private def check(ok: Boolean, msg: => String): Seq[String] =
    if (ok) Nil else Seq(msg)

  // ---------------------------------------------------------------- migrate

  /** One committed order, with its line-item JSON already decoded. */
  final case class OutOrder(orderId: Long, customerId: Option[Long],
                            orphan: Int, status: String,
                            createdSec: Option[Long], total: BigDecimal,
                            nLines: Int, linesAmount: BigDecimal)

  final case class MigrateOut(rows: Seq[OutOrder], finalWatermark: Long,
                              secondPassBatches: Int)

  /** The one-shot result, from plain Spark over the generated parquet and
    * from the generator's own record of the dirt it planted. */
  final case class MigrateExpected(ids: Seq[Long], orphans: Long,
                                   plantedOrphans: Int, total: BigDecimal,
                                   lines: Long, linesAmount: BigDecimal,
                                   maxKey: Long, blankStatus: Int,
                                   badDates: Int, createdSecSum: Long)

  def migrate(o: MigrateOut, e: MigrateExpected): Seq[String] = {
    val ids = o.rows.map(_.orderId)
    val orphans = o.rows.count(_.orphan == 1)
    check(o.rows.count(_.orphan == 0) + orphans == e.ids.size,
      s"committed ${o.rows.size - orphans} rows + $orphans repaired orphans, " +
        s"source has ${e.ids.size}") ++
      check(ids.distinct.size == ids.size,
        s"${ids.size - ids.distinct.size} duplicate order keys committed") ++
      check(ids.sorted == e.ids.sorted, "committed keys differ from the source keys") ++
      check(orphans == e.orphans && orphans == e.plantedOrphans,
        s"$orphans repaired orphans; one-shot ${e.orphans}, planted ${e.plantedOrphans}") ++
      check(o.rows.filter(_.orphan == 1).forall(_.customerId.contains(0L)),
        "a repaired orphan does not carry the placeholder customer 0") ++
      check(o.rows.map(_.total).sum == e.total,
        s"order money sum ${o.rows.map(_.total).sum} != one-shot ${e.total}") ++
      check(o.rows.map(_.nLines.toLong).sum == e.lines,
        s"${o.rows.map(_.nLines.toLong).sum} line items != one-shot ${e.lines}") ++
      check(o.rows.map(_.linesAmount).sum == e.linesAmount,
        s"line money sum ${o.rows.map(_.linesAmount).sum} != one-shot ${e.linesAmount}") ++
      check(o.rows.count(_.status == "UNKNOWN") == e.blankStatus,
        s"${o.rows.count(_.status == "UNKNOWN")} repaired statuses, planted ${e.blankStatus}") ++
      check(o.rows.count(_.createdSec.isEmpty) == e.badDates &&
          o.rows.flatMap(_.createdSec).sum == e.createdSecSum,
        s"${o.rows.count(_.createdSec.isEmpty)} unparsed dates (planted ${e.badDates}), " +
          s"parsed-second sum ${o.rows.flatMap(_.createdSec).sum} != ${e.createdSecSum}") ++
      check(o.finalWatermark == e.maxKey,
        s"final watermark ${o.finalWatermark} != largest source key ${e.maxKey}") ++
      check(o.secondPassBatches == 0,
        s"a second loop over the drained source committed ${o.secondPassBatches} batches")
  }

  // ----------------------------------------------------------------- upsert

  /** What one round of MERGE / REFRESH / read units produced. `mvs(u)` is
    * the view after unit u's refresh, `reads(u)` unit u's key-range read. */
  final case class UpsertOut(table: Seq[Rec], mvs: Seq[Map[Int, (Long, BigDecimal)]],
                             reads: Seq[Seq[(Long, BigDecimal)]],
                             changeFeed: Map[String, Long])

  /** The change log folded outside the engine: last operation per key. */
  def fold(base: Seq[Rec], batches: Seq[Seq[Change]]): Vector[Map[Long, Rec]] =
    batches.scanLeft(base.map(r => r.id -> r).toMap) { (state, b) =>
      b.foldLeft(state) { (s, c) =>
        if (c.op == "D") s - c.rec.id else s + (c.rec.id -> c.rec)
      }
    }.toVector.tail

  def mvOf(state: Map[Long, Rec]): Map[Int, (Long, BigDecimal)] =
    state.values.groupBy(_.grp).map { case (g, rs) =>
      g -> (rs.size.toLong, rs.map(_.amount).sum)
    }

  def upsert(o: UpsertOut, in: UpsertInput): Seq[String] = {
    val states = fold(in.base, in.batches)
    val ops = in.batches.flatten.groupBy(_.op).map { case (k, v) => k -> v.size.toLong }
    val feed = Map(
      "insert" -> ops.getOrElse("I", 0L), "delete" -> ops.getOrElse("D", 0L),
      "update_preimage" -> ops.getOrElse("U", 0L),
      "update_postimage" -> ops.getOrElse("U", 0L))
    check(o.table.map(_.id).distinct.size == o.table.size,
      "the final table holds a key twice") ++
      check(o.table.map(r => r.id -> r).toMap == states.last,
        s"final table (${o.table.size} rows) differs from the folded change log " +
          s"(${states.last.size} rows)") ++
      check(o.mvs.size == states.size, s"${o.mvs.size} refreshes for ${states.size} units") ++
      o.mvs.zip(states).zipWithIndex.flatMap { case ((mv, st), u) =>
        check(mv == mvOf(st), s"view after unit $u differs from its query recomputed in full")
      } ++
      check(o.reads.size == states.size, s"${o.reads.size} reads for ${states.size} units") ++
      o.reads.zip(states).zip(in.ranges).zipWithIndex.flatMap {
        case (((got, st), (lo, hi)), u) =>
          val want = st.values.filter(r => r.id >= lo && r.id <= hi)
            .map(r => r.id -> r.amount).toSeq.sortBy(_._1)
          check(got.sortBy(_._1) == want, s"key-range read of unit $u returned " +
            s"${got.size} rows, the fold has ${want.size}")
      } ++
      check(o.changeFeed == feed, s"change feed ${o.changeFeed} != changes applied $feed")
  }

  // ------------------------------------------------------------------ dedup

  /** Pairs (a < b, Jaccard) reported by the batches of one round, and by
    * one-shot `MinHash.nearDupPairs` over the whole corpus. */
  final case class DedupOut(batchPairs: Seq[(Long, Long, Double)],
                            oneShot: Seq[(Long, Long, Double)])

  final case class DedupParams(k: Int, threshold: Double, margin: Double,
                               recallFloor: Double)

  def shingles(text: String, k: Int): Set[String] = {
    val w = text.split(" ")
    if (w.length < k) Set.empty else w.sliding(k).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.intersect(b).size.toDouble
    inter / (a.size + b.size - inter)
  }

  def dedup(o: DedupOut, in: DedupInput, p: DedupParams): Seq[String] = {
    val sh = in.texts.map { case (id, t) => id -> shingles(t, p.k) }
    val exact = (a: Long, b: Long) => jaccard(sh(a), sh(b))
    val keys = o.batchPairs.map(x => (x._1, x._2))
    val wrong = o.batchPairs.filter { case (a, b, j) =>
      !(a < b) || exact(a, b) < p.threshold || math.abs(exact(a, b) - j) > 1e-9
    }
    val strong = in.planted.map { case (x, y, _) => (math.min(x, y), math.max(x, y)) }
      .distinct.filter { case (a, b) => exact(a, b) >= p.threshold + p.margin }
    val found = keys.toSet
    val recall = if (strong.isEmpty) 1.0 else strong.count(found).toDouble / strong.size
    check(keys.distinct.size == keys.size, "a pair was reported twice") ++
      check(wrong.isEmpty, s"${wrong.size} reported pairs have a wrong or " +
        s"sub-threshold exact Jaccard, e.g. ${wrong.take(3)}") ++
      check(strong.nonEmpty && recall >= p.recallFloor,
        f"recall $recall%.3f of ${strong.size} planted pairs at Jaccard >= " +
          f"${p.threshold + p.margin}%.2f is under the floor ${p.recallFloor}%.2f") ++
      check(o.batchPairs.map(x => (x._1, x._2)).toSet ==
          o.oneShot.map(x => (x._1, x._2)).toSet,
        s"batch union has ${o.batchPairs.size} pairs, one-shot ${o.oneShot.size}")
  }
}
