package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.ops.Cleanse

/** Property tests (SURVEY.md §5: cleanse/recode idempotence) — the
  * Column expressions are checked against direct Scala ports of the
  * reference's Python semantics on generated inputs, batched through
  * one DataFrame per property for speed. */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  private val junkString: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '\t', '+', '-', '(',
      ')', '0', '5', '9', '.', '#'))).map(_.mkString)

  /** Direct port of `utils/tools.py:15-27`. */
  private def cleanContactRef(num: String): Option[String] = {
    if (num == null) return None
    val digits = num.filter(c => c == '+' || c.isDigit)
    if (digits.isEmpty) return None
    val stripped = digits.dropWhile(_ == '0')
    if (stripped.startsWith("5")) Some("+966" + stripped.take(12))
    else if (stripped.startsWith("9")) Some("+" + stripped.take(14))
    else Some(stripped.take(15))
  }

  private def runBatch(inputs: Seq[String],
                       f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Seq[Option[String]] = {
    inputs.toDF("s").select(f(col("s")).cast("string")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getString(0))).toSeq
  }

  test("cleanContact expression == reference port on generated junk") {
    val inputs = Gen.listOfN(300, junkString).sample.get
    val got = runBatch(inputs, Cleanse.cleanContact)
    val want = inputs.map(cleanContactRef)
    inputs.lazyZip(got).lazyZip(want).foreach { (in, g, w) =>
      assert(g == w, s"input=[$in]")
    }
  }

  test("stripToNull is idempotent") {
    val inputs = Gen.listOfN(300,
      Gen.oneOf(junkString, Gen.const("   "), Gen.const(" NULL "))).sample.get
    val once  = runBatch(inputs, c => Cleanse.stripToNull(c, Seq("", "NULL")))
    val twice = runBatch(once.map(_.orNull),
      c => Cleanse.stripToNull(c, Seq("", "NULL")))
    assert(once == twice)
  }

  test("latLong is idempotent and NULL-absorbing") {
    val nums = Gen.listOfN(200, Gen.chooseNum(-2000.0, 2000.0)).sample.get
    val df = nums.toDF("x")
    val once = df.select(Cleanse.latLong(col("x")).as("a"))
    val twice = once.select(Cleanse.latLong(col("a")).cast("double").as("b"))
    val a = once.collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    val b = twice.collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(a.sameElements(b))
    assert(a.zip(nums).forall { case (o, x) => (math.abs(x) > 999) == o.isEmpty })
  }

  test("quantized cosine is symmetric and bounded on random embeddings") {
    import graft.sim.Embeddings
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-1.0f, 1.0f)).map(_.toArray)
    val vecs = Gen.listOfN(30, vecGen).sample.get
      .filter(_.exists(_ != 0f)).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val df = vecs.toDF("vec_id", "embedding")
    val top = Embeddings.bruteForceTopK(df, df, "vec_id", "embedding", k = vecs.size)
    val sims = top.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    sims.foreach { case ((a, b), s) =>
      assert(s <= 1.0 + 1e-9 && s >= -1.0 - 1e-9, s"cos out of range: $s")
      assert(math.abs(s - sims((b, a))) < 1e-12, "asymmetric cosine")
    }
  }

  // ---- cross-implementation properties: two independent formulations
  // of the same operator must agree on arbitrary generated data, not
  // just the oracle corpus ----

  test("top_k aggregate == window top-N-per-group on random data") {
    import graft.expressions.TopKStructs
    import graft.ops.Dedup
    val rows = Gen.listOfN(400, for {
      g <- Gen.chooseNum(0, 7); m <- Gen.chooseNum(-1000, 1000)
    } yield (g, m)).sample.get.zipWithIndex
      .map { case ((g, m), i) => (g, m, i.toLong) }
    val df = rows.toDF("g", "m", "id")
    val viaAgg = df.groupBy("g")
      .agg(explode(TopKStructs.topK(struct(col("m"), col("id")), 3,
        Seq(true, false))).as("t"))
      .select(col("g"), col("t.m").as("m"), col("t.id").as("id"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val viaWindow = Dedup.topNPerGroup(df, Seq("g"),
      Seq(col("m").desc, col("id").asc), 3)
      .select("g", "m", "id")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaAgg.nonEmpty && viaAgg == viaWindow)
  }

  test("physical as-of exec == composed union+window form on random data") {
    import graft.ops.AsOfJoin
    import graft.plans.AsOfJoinPhysical
    val ts = Gen.chooseNum(0L, 50L)
    val left = Gen.listOfN(150, for { k <- Gen.chooseNum(0, 5); t <- ts }
      yield (k, t)).sample.get.zipWithIndex
      .map { case ((k, t), i) => (k, t, i.toLong) }
      .toDF("k", "ts", "lid")
    val right = Gen.listOfN(60, for {
      k <- Gen.chooseNum(0, 5); t <- ts; v <- Gen.chooseNum(-99, 99)
    } yield (k, t, v)).sample.get
      // the operator takes the LAST right row on (key, ts) ties; make
      // ties impossible so both formulations have one defined answer
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      .toDF("k", "ts", "v")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("lid", "v").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1))))
        .toMap
    val composed = key(AsOfJoin.asOf(left, right, Seq("k"), "ts", "ts"))
    val physical = key(AsOfJoinPhysical.asOf(left, right, Seq("k"), "ts", "ts"))
    assert(composed.nonEmpty && composed == physical)
  }

  test("propagation CC == star-contraction CC on random graphs") {
    import graft.text.DedupClusters
    val n = 120
    val nodes = (0L until n.toLong).toDF("id")
    val edges = Gen.listOfN(90, for {
      a <- Gen.chooseNum(0L, n - 1L); b <- Gen.chooseNum(0L, n - 1L)
    } yield (a, b)).sample.get.filter(p => p._1 != p._2)
      .toDF("a", "b")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prop = canon(DedupClusters.connectedComponents(nodes, edges))
    val star = canon(DedupClusters.connectedComponentsStar(nodes, edges))
    assert(prop.size == n && prop == star)
  }

  test("RangeJoin.binned == naive inequality join on generated intervals") {
    // random points, random (possibly empty/inverted/overlapping)
    // intervals, random bin width — the binning must be invisible
    val gen = for {
      pts <- Gen.listOfN(80, Gen.chooseNum(-500L, 500L))
      ivs <- Gen.listOfN(40, for {
        s <- Gen.chooseNum(-500L, 500L)
        len <- Gen.chooseNum(-50L, 200L) // negative → inverted interval
      } yield (s, s + len))
      w <- Gen.oneOf(1L, 7L, 64L, 100L, 1000L)
    } yield (pts, ivs, w)
    for (_ <- 1 to 3) {
      val (pts, ivs, w) = gen.sample.get
      val points = pts.zipWithIndex.map { case (p, i) => (i.toLong, p) }
        .toDF("pid", "p")
      val intervals = ivs.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
        .toDF("iid", "s", "e")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("pid", "iid").collect()
          .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val binned = canon(graft.ops.RangeJoin.binned(
        points, col("p"), intervals, col("s"), col("e"), w))
      val naive = canon(points.join(intervals, col("p") >= col("s") && col("p") < col("e")))
      assert(binned == naive, s"binWidth=$w")
    }
  }

  test("media container encode→decode round-trips on generated params") {
    import graft.multimodal.Multimodal
    val gen = for {
      id   <- Gen.chooseNum(0L, 1000000L)
      w    <- Gen.chooseNum(1, 65535)
      h    <- Gen.chooseNum(1, 65535)
      usf  <- Gen.chooseNum(1, 2000000)
      tf   <- Gen.chooseNum(0, 1000000)
      body <- Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
    } yield (id, w, h, usf, tf, body.toArray)
    for (_ <- 1 to 50) {
      val (id, w, h, usf, tf, body) = gen.sample.get
      // image/audio: format selected by id % 3, dims recovered exactly
      val (fmt, gw, gh) = Multimodal.decodeHeader(
        Multimodal.synthesizePayload(id, w, h, body))
      assert(fmt == Seq("png", "bmp", "wav")((id % 3).toInt))
      assert((gw, gh) == ((w, h)))
      // video: all four header fields recovered exactly, and the
      // derived duration uses truncating integer math
      val avi = Multimodal.aviRoundTrip(w, h, usf, tf, body)
      assert(avi.contains((w, h, usf, tf)))
      // JPEG: dims recovered by the SOFn marker walk (width/height
      // are 16-bit in the frame header, so clamp the generator range)
      val (jw, jh) = (w % 30000, h % 30000)
      val (jfmt, gjw, gjh) = Multimodal.jpegRoundTrip(jw, jh, body)
      assert(jfmt == "jpeg" && (gjw, gjh) == ((jw, jh)))
      // MP4: tkhd 16.16 dims and the mvhd clock recovered; duration
      // converts with truncating timescale math
      val ts = 1 + (usf % 90000)
      val mp4 = Multimodal.mp4RoundTrip(jw, jh, ts, tf, body)
      assert(mp4.contains((jw, jh, tf.toLong * 1000 / ts)))
      // GIF: LE16 screen-descriptor dims recovered exactly
      val (gfmt, ggw, ggh) = Multimodal.gifRoundTrip(jw % 65536, jh % 65536, body)
      assert(gfmt == "gif" && (ggw, ggh) == ((jw % 65536, jh % 65536)))
      // FLAC: the 20-bit sample rate and 3-bit channel count recovered
      // from the STREAMINFO bitfield
      val (sr, ch) = (1 + (usf % 655350), 1 + (tf % 8))
      val flac = Multimodal.flacRoundTrip(sr, ch, body)
      assert(flac == (("flac", sr, ch)), s"sr=$sr ch=$ch got $flac")
      // WebP: VP8X LE24 canvas dims (minus-one encoding) recovered
      val (ww, wh) = (1 + (w % 16000), 1 + (h % 16000))
      val webp = Multimodal.webpRoundTrip(ww, wh, body)
      assert(webp == (("webp", ww, wh)), s"w=$ww h=$wh got $webp")
      // MP3: ID3v2 skip + MPEG1 frame sample-rate index and mode bits
      val srIdx = (tf % 3).toInt
      val mono = tf % 2 == 0
      val mp3 = Multimodal.mp3RoundTrip(srIdx, mono, body)
      assert(mp3 == (("mp3", Seq(44100, 48000, 32000)(srIdx),
        if (mono) 1 else 2)), s"srIdx=$srIdx mono=$mono got $mp3")
    }
  }

  test("frameSampleIndices: sorted, bounded, capped on generated durations") {
    val durs = (1 to 200).map(_ =>
      Gen.chooseNum(0L, 100000L).sample.get)
    val df = durs.zipWithIndex.map { case (d, i) => (i.toLong, d) }
      .toDF("id", "dur_ms")
    val got = df.select($"id", $"dur_ms",
      graft.multimodal.Multimodal
        .frameSampleIndices($"dur_ms", fps = 2.0, maxFrames = 8).as("f"))
      .collect()
    got.foreach { r =>
      val dur = r.getLong(1)
      val idx = r.getSeq[Int](2)
      val total = math.floor(dur / 500.0).toInt
      assert(idx.length == math.min(total, 8).max(0))
      assert(idx == idx.sorted, s"unsorted plan for dur=$dur")
      assert(idx.forall(i => i >= 0 && i < math.max(total, 1)),
        s"index out of frame range for dur=$dur: $idx")
      assert(idx.distinct.length == idx.length, s"duplicate frames for dur=$dur")
    }
  }

  /** The change rows one DV-vs-COW property round committed (batch
    * `100 + round`), as a sorted multiset. */
  private def feed(root: String, man: graft.sources.TxnManifest,
                   round: Int): Seq[(Long, String, String)] =
    graft.sources.Sinks.readChanges(spark, root, man, 99 + round, 100 + round)
      .select("id", "v", "_change_type").as[(Long, String, String)]
      .collect().toSeq.sorted

  test("DV delete == COW delete on random tables, keys, and delete sets") {
    import graft.sources.{Sinks, TxnManifest}
    // merge-on-read vs copy-on-write is an execution strategy — for
    // ANY (table, batch split, delete set, second delete) the two
    // must agree exactly, including deletes of absent keys, repeated
    // deletes, and an empty delete; with cdf, so must their feeds
    val cases = Gen.listOfN(4, for {
      n      <- Gen.chooseNum(5, 200)
      splits <- Gen.chooseNum(1, 4)
      del1   <- Gen.listOf(Gen.chooseNum(-20L, 220L))
      del2   <- Gen.listOf(Gen.chooseNum(-20L, 220L))
    } yield (n, splits, del1, del2)).sample.get
    for (((n, splits, del1, del2), ci) <- cases.zipWithIndex;
         cdf <- Seq(false, true)) {
      val rows = (0 until n).map(i => (i.toLong, s"v$i"))
      def build(tag: String): (String, TxnManifest) = {
        val tmp = java.nio.file.Files
          .createTempDirectory(s"dvprop_${ci}_${cdf}_$tag").toString
        val root = s"$tmp/t"
        val man = new TxnManifest(s"$tmp/_commits")
        for (b <- 0 until splits) {
          Sinks.appendBatch(
            rows.filter(_._1 % splits == b).toDF("id", "v"), root, b)
          man.commit(b, Seq(s"$root/batch=$b"))
        }
        (root, man)
      }
      val (dvRoot, dvMan) = build("dv")
      val (cowRoot, cowMan) = build("cow")
      for ((del, round) <- Seq(del1, del2).zipWithIndex) {
        val keys = del.toDF("id")
        Sinks.mergeDeleteDV(spark, keys, dvRoot, dvMan, Seq("id"),
          mergeId = 100 + round, cdf = cdf)
        Sinks.mergeDelete(spark, keys, cowRoot, cowMan, Seq("id"),
          mergeId = 100 + round, cdf = cdf)
        val got = Sinks.readCommitted(spark, dvRoot, dvMan)
          .select("id", "v").as[(Long, String)].collect().sorted.toSeq
        val want = Sinks.readCommitted(spark, cowRoot, cowMan)
          .select("id", "v").as[(Long, String)].collect().sorted.toSeq
        assert(got == want,
          s"case $ci round $round: DV ${got.size} rows vs COW ${want.size}")
        if (cdf) assert(feed(dvRoot, dvMan, round) == feed(cowRoot, cowMan, round),
          s"case $ci round $round: DV and COW change feeds differ")
        // the DSv2 face agrees with the Scala face
        val dsv2 = spark.read.format("graft-manifest")
          .option("manifest", s"${dvRoot.stripSuffix("/t")}/_commits")
          .load(dvRoot).select("id", "v")
          .as[(Long, String)].collect().sorted.toSeq
        assert(dsv2 == want, s"case $ci round $round: DSv2 disagrees")
      }
    }
  }

  test("DV update == COW upsert on random tables, keys, and update sets") {
    import graft.sources.{Sinks, TxnManifest}
    // the update sibling of the delete property: for ANY (table,
    // batch split, update set, second OVERLAPPING update set) the
    // merge-on-read answer must equal copy-on-write exactly —
    // including pure inserts, re-updates of the same key (the second
    // vector hides the first's appended version), and empty updates;
    // with cdf, so must their feeds
    val cases = Gen.listOfN(4, for {
      n    <- Gen.chooseNum(5, 200)
      splits <- Gen.chooseNum(1, 4)
      up1  <- Gen.listOf(Gen.chooseNum(-20L, 220L))
      up2  <- Gen.listOf(Gen.chooseNum(-20L, 220L))
    } yield (n, splits, up1, up2)).sample.get
    for (((n, splits, up1, up2), ci) <- cases.zipWithIndex;
         cdf <- Seq(false, true)) {
      val rows = (0 until n).map(i => (i.toLong, s"v$i"))
      def build(tag: String): (String, TxnManifest) = {
        val tmp = java.nio.file.Files
          .createTempDirectory(s"dvuprop_${ci}_${cdf}_$tag").toString
        val root = s"$tmp/t"
        val man = new TxnManifest(s"$tmp/_commits")
        for (b <- 0 until splits) {
          Sinks.appendBatch(
            rows.filter(_._1 % splits == b).toDF("id", "v"), root, b)
          man.commit(b, Seq(s"$root/batch=$b"))
        }
        (root, man)
      }
      val (dvRoot, dvMan) = build("dv")
      val (cowRoot, cowMan) = build("cow")
      for ((up, round) <- Seq(up1, up2).zipWithIndex) {
        val ups = up.distinct.map(i => (i, s"u$round-$i")).toDF("id", "v")
        Sinks.mergeUpdateDV(spark, ups, dvRoot, dvMan, Seq("id"),
          mergeId = 100 + round, cdf = cdf)
        Sinks.mergeUpsert(spark, ups, cowRoot, cowMan, Seq("id"),
          mergeId = 100 + round, cdf = cdf)
        val got = Sinks.readCommitted(spark, dvRoot, dvMan)
          .select("id", "v").as[(Long, String)].collect().sorted.toSeq
        val want = Sinks.readCommitted(spark, cowRoot, cowMan)
          .select("id", "v").as[(Long, String)].collect().sorted.toSeq
        assert(got == want,
          s"case $ci round $round: DV ${got.size} rows vs COW ${want.size}")
        if (cdf) assert(feed(dvRoot, dvMan, round) == feed(cowRoot, cowMan, round),
          s"case $ci round $round: DV and COW change feeds differ")
        val dsv2 = spark.read.format("graft-manifest")
          .option("manifest", s"${dvRoot.stripSuffix("/t")}/_commits")
          .load(dvRoot).select("id", "v")
          .as[(Long, String)].collect().sorted.toSeq
        assert(dsv2 == want, s"case $ci round $round: DSv2 disagrees")
      }
    }
  }

  test("SQL MERGE == the per-arm target-join oracle on random tables and sources") {
    import graft.plans.{GraftSql, GraftSqlTables}
    import graft.sources.{Sinks, TxnManifest}
    import org.apache.spark.sql.DataFrame
    // (clauses, delete condition, update arm, insert condition) over
    // source `c`: the benchmark's statement, a conditional INSERT with
    // no delete, and a delete-only merge
    val variants = Seq(
      ("""WHEN MATCHED AND c.op = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED AND c.op <> 'D' THEN INSERT *""".stripMargin,
        Some(col("op") === "D"), true, Some(col("op") =!= "D")),
      ("""WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED AND c.op = 'I' THEN INSERT *""".stripMargin,
        None, true, Some(col("op") === "I")),
      ("WHEN MATCHED AND c.op = 'D' THEN DELETE", Some(col("op") === "D"),
        false, None))
    // the reference semantics, one arm at a time with semi and anti
    // joins against the target's keys: a key any matched source row
    // deletes updates none of its rows; updates and inserts must be
    // unique per key (NULL keys group together)
    def oracle(tgt: DataFrame, src: DataFrame, del: Option[org.apache.spark.sql.Column],
               update: Boolean, ins: Option[org.apache.spark.sql.Column]) = {
      val tgtKeys = tgt.select("id").distinct()
      val mDel = del.map(c => src.where(c).select("id")
        .join(tgtKeys, Seq("id"), "left_semi"))
      val upd = if (!update) None else Some(mDel.fold(src)(d =>
        src.join(d, Seq("id"), "left_anti"))
        .join(tgtKeys, Seq("id"), "left_semi").select("id", "v"))
      val inserts = ins.map(c => src.where(coalesce(c, lit(false)))
        .join(tgtKeys, Seq("id"), "left_anti").select("id", "v"))
      val ups = (upd.toSeq ++ inserts).reduceOption(_.union(_))
      val raises = ups.exists(_.groupBy("id").count().where($"count" > 1)
        .limit(1).collect().nonEmpty)
      val gone = (mDel.toSeq ++ upd.map(_.select("id")))
        .reduceOption(_.union(_))
      val table = (gone.fold(tgt)(g => tgt.join(g, Seq("id"), "left_anti")) +:
        ups.toSeq).reduce(_.union(_))
      val changes = Seq(
        upd.map(u => tgt.join(u.select("id"), Seq("id"), "left_semi")
          .withColumn("ct", lit("update_preimage"))),
        upd.map(_.withColumn("ct", lit("update_postimage"))),
        inserts.map(_.withColumn("ct", lit("insert"))),
        mDel.map(d => tgt.join(d, Seq("id"), "left_semi")
          .withColumn("ct", lit("delete")))).flatten.reduce(_.union(_))
      (raises, table, changes)
    }
    def rowsOf(df: DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val mixes = Seq(Seq("U", "D", "I"), Seq("D"), Seq("I"))
    val cases = Gen.listOfN(5, for {
      n      <- Gen.chooseNum(5, 120)
      splits <- Gen.chooseNum(1, 4)
      dv     <- Gen.listOf(Gen.chooseNum(0L, 120L))
      mix    <- Gen.oneOf(mixes)
      src    <- Gen.listOf(Gen.zip(
        Gen.frequency(1 -> Gen.const(Option.empty[Long]),
          12 -> Gen.chooseNum(-5L, 130L).map(Option(_))),
        Gen.oneOf(mix), Gen.alphaNumStr.map(_.take(3))))
    } yield (n, splits, dv, src)).sample.get
    // a hand-made case pins the delete rule: two matched source rows
    // update and delete key 1 — the delete wins, no update lands (and
    // without a delete clause the same rows are a duplicate update)
    val pinned = (3, 1, List.empty[Long], List[(Option[Long], String, String)](
      (Some(1L), "U", "u1"), (Some(1L), "D", "d1"), (Some(0L), "U", "u0")))
    var scanChecks = 0
    for (((n, splits, dv, srcRows), ci) <- (pinned +: cases).zipWithIndex;
         ((clauses, del, update, ins), vi) <- variants.zipWithIndex) {
      val tmp = java.nio.file.Files.createTempDirectory(s"mergeprop_${ci}_$vi")
        .toString
      val root = s"$tmp/t"
      val man = new TxnManifest(s"$tmp/_commits")
      for (b <- 0 until splits) {
        Sinks.appendBatch((0 until n).filter(_ % splits == b)
          .map(i => (i.toLong, s"v$i")).toDF("id", "v"), root, b)
        man.commit(b, Seq(s"$root/batch=$b"))
      }
      // some targets carry deletion vectors over their dirs
      if (dv.nonEmpty)
        Sinks.mergeDeleteDV(spark, dv.toDF("id"), root, man, Seq("id"), splits)
      val name = s"mprop_${ci}_$vi"
      GraftSqlTables.register(name,
        GraftSqlTables.Entry(root, man.path, keys = Seq("id"), cdf = true))
      srcRows.toDF("id", "op", "v").select("id", "v", "op")
        .createOrReplaceTempView("mprop_src")
      val before = Sinks.readCommitted(spark, root, man).select("id", "v")
      val want = rowsOf(before)
      val mergeId = man.committed().keySet.max + 1
      val (raises, table, changes) = oracle(before, spark.table("mprop_src"),
        del, update, ins)
      val (wantTable, wantChanges) = (rowsOf(table), rowsOf(changes))
      val (outcome, scans) = PlanScans.during(spark)(scala.util.Try(
        GraftSql.execute(spark,
          s"MERGE INTO $name AS t USING mprop_src AS c ON t.id = c.id\n$clauses")))
      val at = s"case $ci variant $vi"
      assert(outcome.isFailure == raises, s"$at: raised ${outcome.failed.toOption}")
      outcome.failed.foreach { e =>
        assert(e.isInstanceOf[IllegalArgumentException], s"$at: $e")
        assert(rowsOf(Sinks.readCommitted(spark, root, man).select("id", "v")) ==
          want, s"$at: a failed merge changed the table")
      }
      if (outcome.isSuccess) {
        assert(rowsOf(Sinks.readCommitted(spark, root, man)
          .select("id", "v")) == wantTable, s"$at: table")
        assert(rowsOf(GraftSql.execute(spark,
          s"SELECT id, v, _change_type FROM table_changes('$name', $mergeId)"))
          == wantChanges, s"$at: change feed")
        // the fast path reads the target twice: pass 1 and the rewrite
        if (vi == 0) {
          val reads = scans.count(_.paths.exists(_.startsWith(s"$root/batch=")))
          assert(reads <= 2, s"$at: $reads target scans: $scans")
          scanChecks += 1
        }
      }
      if (ci == 0 && vi == 0)
        assert(wantTable == Seq("0|u0", "2|v2") && outcome.isSuccess,
          s"$at: the delete rule")
      GraftSqlTables.unregister(name)
    }
    assert(scanChecks > 0)
  }

  test("MERGE from a source at and one past BloomProbeMaxKeys == the Scala fold, per key type") {
    import graft.sources.{Sinks, StatsSinks, TxnManifest}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // a source of at most BloomProbeMaxKeys rows continues from a local
    // relation, one more keeps the pinned plan: both sides of that
    // choice must give the fold's table and change feed. Each key type
    // encodes an int in order (so range-split batches prune); the last
    // case's source leaves a key column all null, so there is no range
    // and no key matches
    val n = Sinks.BloomProbeMaxKeys
    def str(i: Int) = f"k${i + 20000}%06d"
    def day(i: Int) = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(10000L + i))
    val twoCol = Seq(StructField("k1", LongType), StructField("k2", StringType))
    def pair(i: Int): Seq[Any] = Seq(Math.floorDiv(i, 2).toLong, str(Math.floorMod(i, 2)))
    val cases: Seq[(String, Seq[StructField], Int => Seq[Any], Int => Seq[Any])] = Seq(
      ("long", Seq(StructField("k", LongType)), i => Seq(i.toLong), i => Seq(i.toLong)),
      ("string", Seq(StructField("k", StringType)), i => Seq(str(i)), i => Seq(str(i))),
      ("decimal", Seq(StructField("k", DecimalType(20, 2))),
        i => Seq(java.math.BigDecimal.valueOf(i.toLong, 2)),
        i => Seq(java.math.BigDecimal.valueOf(i.toLong, 2))),
      ("date", Seq(StructField("k", DateType)), i => Seq(day(i)), i => Seq(day(i))),
      ("two-column", twoCol, pair, pair),
      ("null column", twoCol, i => Seq(i.toLong, "t"), i => Seq(i.toLong, null)))
    // the target: keys 0 until 6000 in three range-split batches; the
    // source updates the even and deletes every fourth odd key below
    // 4000 (the last batch is pruned by range) and inserts below 0
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    for ((name, keyFields, tgtKey, srcKey) <- cases; size <- Seq(n, n + 1)) {
      val keys = keyFields.map(_.name)
      val schema = StructType(keyFields :+ StructField("v", StringType))
      def frame(rows: Seq[Row], s: StructType = schema) =
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), s)
      val tmp = java.nio.file.Files.createTempDirectory(s"mergecap_$name").toString
      val root = s"$tmp/t"
      val man = new TxnManifest(s"$tmp/_commits")
      val target = (0 until 6000).map(i => Row.fromSeq(tgtKey(i) :+ s"t$i"))
      for (b <- 0 until 3) {
        StatsSinks.appendBatchStats(frame(target.slice(2000 * b, 2000 * (b + 1))), root, b)
        man.commit(b, Seq(s"$root/batch=$b"))
      }
      val updated = (0 until 4000 by 2) ++ (-1 to -(size - 3000) by -1)
      val deleted = 1 until 4000 by 4
      assert(updated.size + deleted.size == size)
      val ups = updated.map(i => Row.fromSeq(srcKey(i) :+ s"u$i"))
      val dels = deleted.map(i => Row.fromSeq(srcKey(i)))
      Sinks.merge(spark, Some(frame(ups)),
        Some(frame(dels, StructType(keyFields))), root, man, keys,
        mergeId = 3, cdf = true)
      // the fold: a key with a null never matches
      val before = target.map(r => r.toSeq.init -> r).toMap
      def hit(r: Row) = !r.toSeq.init.contains(null) && before.contains(r.toSeq.init)
      val (upHit, inserts) = ups.partition(hit)
      val delHit = dels.filter(r => before.contains(r.toSeq)).map(r => before(r.toSeq))
      val gone = (upHit.map(_.toSeq.init) ++ delHit.map(_.toSeq.init)).toSet
      val table = target.filterNot(r => gone(r.toSeq.init)) ++ upHit ++ inserts
      def tagged(rows: Seq[Row], t: String) = rows.map(r => (r.toSeq :+ t).mkString("|"))
      val feed = tagged(upHit.map(r => before(r.toSeq.init)), "update_preimage") ++
        tagged(upHit, "update_postimage") ++ tagged(inserts, "insert") ++
        tagged(delHit, "delete")
      val at = s"$name, source of $size rows"
      assert(rowsOf(Sinks.readCommitted(spark, root, man).select((keys :+ "v").map(col): _*))
        == table.map(_.toSeq.mkString("|")).sorted, s"$at: table")
      assert(rowsOf(Sinks.readChanges(spark, root, man, 2, 3)
        .select((keys :+ "v" :+ Sinks.ChangeTypeCol).map(col): _*)) == feed.sorted,
        s"$at: change feed")
      // the driver-side range is the min/max aggregates' range
      val srcKeys = frame(ups ++ dels.map(r => Row.fromSeq(r.toSeq :+ null)))
        .select(keys.map(col): _*)
      assert(Sinks.keyRange(srcKeys.collect().toSeq, keyFields.map(_.dataType)) ==
        Sinks.keyRange(srcKeys, keys), at)
      // the merge's source rows: exactly the cap stays local, one more not
      assert(Sinks.smallRows(srcKeys).isDefined == (size == n), at)
    }
    // strings order as UTF-8 bytes, not as Java Strings: U+1F600 sorts
    // after U+FFFD in Spark and before it in String.compareTo
    val odd = Seq("a", "\uFFFD", "\uD83D\uDE00", null).toDF("s")
    val range = Sinks.keyRange(odd.collect().toSeq, Seq(StringType))
    assert(range == Sinks.keyRange(odd, Seq("s")) &&
      range.contains(Row("a", "\uD83D\uDE00")), range)
  }

  test("exact z-split write: rows preserved, files bounded, key ranges disjoint") {
    import graft.sources.Layout
    // shapes the cube test never exercises: negative keys (1-column
    // path), heavy duplicate skew, sparse far-apart clusters
    val gens = Seq(
      Gen.listOfN(600, Gen.chooseNum(-1000000L, 1000000L)),       // mixed sign
      Gen.listOfN(600, Gen.oneOf(7L, 7L, 7L, 9L, 1000L)),         // skew: one hot key
      Gen.listOfN(600, Gen.oneOf(Gen.chooseNum(0L, 100L),
        Gen.chooseNum((1L << 40) - 100, 1L << 40))),              // sparse clusters
      Gen.listOfN(3, Gen.chooseNum(0L, 10L)))                     // fewer rows than files
    for ((g, gi) <- gens.zipWithIndex) {
      val keys = g.sample.get
      val tmp = java.nio.file.Files.createTempDirectory(s"zsplit_$gi").toString
      val df = keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }
        .toDF("id", "k")
      Layout.writeZOrderedN(df, s"$tmp/out", Seq(col("k")), numFiles = 8)
      val back = spark.read.parquet(s"$tmp/out")
      // every row survives, nothing invented
      assert(back.select("id", "k").collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq == keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }
        .sorted.toSeq, s"gen $gi lost rows")
      // bounded file count, and per-file key ranges never overlap —
      // the property min/max pruning depends on
      val ranges = back.groupBy(input_file_name().as("f"))
        .agg(min($"k").as("lo"), max($"k").as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(ranges.length <= 8, s"gen $gi wrote ${ranges.length} files")
      for (Seq((_, hi1), (lo2, _)) <- ranges.toSeq.sliding(2)
           if ranges.length > 1)
        assert(hi1 <= lo2, s"gen $gi overlapping file ranges: ${ranges.toSeq}")
    }
  }

  test("bucket spec render/parse round-trips, including the layout generation") {
    import graft.sources.Bucketing
    val cases = Gen.listOfN(100, for {
      n <- Gen.chooseNum(2, 64)
      g <- Gen.chooseNum(0, 5)
      k1 <- Gen.identifier.map(_.take(8)).suchThat(_.nonEmpty)
      k2 <- Gen.identifier.map(_.take(8)).suchThat(_.nonEmpty)
    } yield (n, g, List(k1, k2))).sample.get
    cases.foreach { case (n, gen, keys0) =>
      val keys = if (keys0.map(_.toLowerCase).distinct.size == 2) keys0
                 else List(keys0.head, keys0.head + "x")
      val spec = Bucketing.Spec(n, keys, gen)
      assert(Bucketing.parse(Bucketing.render(spec)) == spec)
      // a generation MISMATCH is a header mismatch — the scan
      // degrades instead of matching a stale routing function
      assert(Bucketing.render(spec) !=
        Bucketing.render(spec.copy(gen = gen + 1)))
    }
    // gen 0 renders the round-8/9 header byte-for-byte (old markers
    // keep matching old specs)
    assert(Bucketing.render(Bucketing.Spec(8, Seq("id"))) == "8,id")
    intercept[IllegalArgumentException](Bucketing.parse("8,id;gen=0"))
    intercept[IllegalArgumentException](Bucketing.parse("8,id;gen=x"))
  }

  test("bucket routing property: every written row's bucketOf == its file's recorded bucket") {
    // THE layout invariant everything else (SPJ, pruning, markers)
    // rests on, checked end to end over generated keys of both a
    // numeric and a string type, single- and multi-key specs: write
    // through Bucketing.routed, map files via the recorded marker,
    // read each file back and recompute every row's bucket with the
    // scan-side function — one mismatch means joins would drop rows.
    import graft.sources.Bucketing
    import org.apache.spark.sql.types.{LongType, StringType}
    val keysGen = Gen.listOfN(200, for {
      a <- Gen.chooseNum(-100000L, 100000L)
      s <- Gen.alphaNumStr.map(_.take(12))
    } yield (a, s))
    val data = keysGen.sample.get
    for ((spec, label) <- Seq(
      Bucketing.Spec(8, Seq("k1")) -> "single-long",
      Bucketing.Spec(4, Seq("k2")) -> "single-string",
      Bucketing.Spec(4, Seq("k1", "k2")) -> "multi")) {
      val tmp = java.nio.file.Files
        .createTempDirectory(s"graft_brt_${label}_").toString
      val df = data.toDF("k1", "k2")
      Bucketing.routed(df, spec).write.parquet(s"$tmp/b")
      Bucketing.writeMarkerWithFiles(spark, s"$tmp/b", spec)
      val resolve = Bucketing.fileBuckets(s"$tmp/b", spec)
        .getOrElse(fail(s"$label: marker unreadable"))
      val files = new java.io.File(s"$tmp/b").listFiles()
        .filter(f => f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("."))
      assert(files.nonEmpty)
      var seen = 0
      files.foreach { f =>
        val flat = resolve(f.getName).getOrElse(
          fail(s"$label: ${f.getName} not in map"))
        val dims = Bucketing.dims(flat, spec)
        spark.read.parquet(f.toString).collect().foreach { r =>
          val got = spec.keys.zipWithIndex.map {
            case ("k1", _) => Bucketing.bucketOf(r.getLong(
              r.fieldIndex("k1")), LongType, spec.n)
            case ("k2", _) => Bucketing.bucketOf(
              org.apache.spark.unsafe.types.UTF8String.fromString(
                r.getString(r.fieldIndex("k2"))), StringType, spec.n)
          }
          assert(got == dims,
            s"$label: row $r in file of bucket $dims hashes to $got")
          seen += 1
        }
      }
      assert(seen == data.length, s"$label: $seen of ${data.length} rows")
    }
  }
}
