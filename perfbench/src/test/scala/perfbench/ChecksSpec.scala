package perfbench

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Each workload runs one small round through the benchmark's own code
  * path; its checks must pass on the real output and fail on every
  * corruption of it. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val tmp = Files.createTempDirectory("perfbench-checks").toString
  private lazy val spark = Main.session(tmp)

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  private def runRound[W <: Workload](name: String)(make: Ctx => W): W = {
    val trace = new Trace(spark.sparkContext, enabled = false)
    val w = make(Ctx(spark, s"$tmp/$name", seed = 7, Sizes.tiny, trace))
    w.generate()
    w.round(1, new Units(spark.sparkContext, trace, counted = false), w.unitsPerRound)
    w
  }

  /** Every corruption must make the check report a message containing its tag. */
  private def mustFail[O](check: O => Seq[String], cases: (String, String, O)*): Unit =
    cases.foreach { case (what, tag, bad) =>
      val msgs = check(bad)
      assert(msgs.exists(_.contains(tag)), s"$what went unnoticed: $msgs")
    }

  test("migrate checks pass on the committed output and catch each corruption") {
    val w = runRound("migrate")(new Migrate(_))
    val o = w.output()
    val e = w.expected()
    assert(Checks.migrate(o, e).isEmpty, Checks.migrate(o, e))
    val rows = o.rows.sortBy(_.orderId).toVector
    val orphan = rows.indexWhere(_.orphan == 1)
    val named = rows.indexWhere(r => r.orphan == 0 && r.status != "UNKNOWN" &&
      r.createdSec.isDefined)
    def edit(i: Int)(f: Checks.OutOrder => Checks.OutOrder) =
      o.copy(rows = rows.updated(i, f(rows(i))))
    val cent = BigDecimal("0.01")
    mustFail[Checks.MigrateOut](Checks.migrate(_, e),
      ("a lost row", "source has", o.copy(rows = rows.tail)),
      ("a doubled row", "duplicate order keys", o.copy(rows = rows :+ rows(named))),
      ("a changed key", "keys differ", edit(named)(r => r.copy(orderId = -r.orderId))),
      ("an orphan left unrepaired", "repaired orphans", edit(orphan)(_.copy(orphan = 0))),
      ("an orphan without the placeholder", "placeholder",
        edit(orphan)(_.copy(customerId = None))),
      ("a total off by a cent", "order money", edit(named)(r => r.copy(total = r.total + cent))),
      ("a dropped line item", "line items", edit(named)(r => r.copy(nLines = r.nLines - 1))),
      ("a line amount off by a cent", "line money",
        edit(named)(r => r.copy(linesAmount = r.linesAmount + cent))),
      ("a status repaired twice", "repaired statuses", edit(named)(_.copy(status = "UNKNOWN"))),
      ("a date a second late", "parsed-second sum",
        edit(named)(r => r.copy(createdSec = r.createdSec.map(_ + 1)))),
      ("a stale watermark", "final watermark", o.copy(finalWatermark = o.finalWatermark - 1)),
      ("a second pass that commits", "second loop", o.copy(secondPassBatches = 1)))
  }

  test("upsert checks pass on the merged table and catch each corruption") {
    val w = runRound("upsert")(new Upsert(_))
    val o = w.output()
    assert(Checks.upsert(o, w.in).isEmpty, Checks.upsert(o, w.in))
    val t = o.table.sortBy(_.id).toVector
    val mv0 = o.mvs.head
    val (g, (n, sum)) = mv0.head
    val read0 = o.reads.head
    mustFail[Checks.UpsertOut](Checks.upsert(_, w.in),
      ("a lost row", "differs from the folded", o.copy(table = t.tail)),
      ("a stale amount", "differs from the folded",
        o.copy(table = t.updated(0, t(0).copy(amount = t(0).amount + 1)))),
      ("a doubled key", "holds a key twice", o.copy(table = t :+ t(0))),
      ("a view row off by one", "view after unit 0",
        o.copy(mvs = o.mvs.updated(0, mv0 + (g -> ((n + 1, sum)))))),
      ("a missing refresh", "refreshes for", o.copy(mvs = o.mvs.tail)),
      ("a short read", "key-range read of unit 0",
        o.copy(reads = o.reads.updated(0, read0.tail))),
      ("a lost change-feed row", "change feed",
        o.copy(changeFeed = o.changeFeed.updated("delete", o.changeFeed("delete") - 1))))
  }

  test("dedup checks pass on the batch pairs and catch each corruption") {
    val w = runRound("dedup")(new DedupWorkload(_))
    val o = w.output()
    val p = w.params
    assert(Checks.dedup(o, w.in, p).isEmpty, Checks.dedup(o, w.in, p))
    val pairs = o.batchPairs.toVector
    val (a, b, j) = pairs.head
    val planted = w.in.planted.map(x => (math.min(x._1, x._2), math.max(x._1, x._2))).toSet
    val far = w.in.texts.keys.toSeq.sorted.take(2)
    mustFail[Checks.DedupOut](Checks.dedup(_, w.in, p),
      ("a pair reported twice", "reported twice", o.copy(batchPairs = pairs :+ pairs.head)),
      ("a wrong Jaccard", "wrong or sub-threshold", o.copy(batchPairs = pairs.updated(0, (a, b, j - 0.1)))),
      ("an unrelated pair", "wrong or sub-threshold",
        o.copy(batchPairs = pairs :+ ((far(0), far(1), 0.9)))),
      ("lost planted pairs", "under the floor",
        o.copy(batchPairs = pairs.filterNot(x => planted((x._1, x._2))))),
      ("a pair one-shot does not find", "one-shot", o.copy(oneShot = o.oneShot.tail)))
  }
}
