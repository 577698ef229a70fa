package graft

import org.apache.spark.sql.functions._
import graft.sim.Embeddings
import graft.multimodal.Multimodal

class SimSpec extends SparkSuite {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f), 0),
    (2L, Array(0.9f, 0.1f, 0.0f), 0),
    (3L, Array(0.0f, 1.0f, 0.0f), 1),
    (4L, Array(-1.0f, 0.0f, 0.0f), 2)
  ).toDF("vec_id", "embedding", "label")

  test("bruteForceTopK ranks by cosine with id tiebreak, excludes self") {
    val got = Embeddings.bruteForceTopK(
      vecs.filter($"vec_id" === 1), vecs, "vec_id", "embedding", k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getInt(3)))
    assert(got.map(_._1).toSeq == Seq(2L, 3L, 4L)) // cos: .994, 0, -1
  }

  test("quantized dot/norm are exact integers") {
    val r = vecs.filter($"vec_id" === 1)
      .select(Embeddings.qdot(Embeddings.quantize($"embedding"),
        Embeddings.quantize($"embedding"))).first()
    assert(r.getLong(0) == 1000000L * 1000000L)
  }

  test("signBucket: identical vectors collide, antipodal vectors never do") {
    val qv = Embeddings.quantize($"embedding")
    val b = vecs.select($"vec_id",
      Embeddings.signBucket(qv, table = 0, bits = 3, dim = 3).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b.values.forall(v => v >= 0 && v < 8)) // keys within 2^bits
    // v and -v flip every nonzero plane dot: sign(w·(-v)) = -sign(w·v),
    // so with the >= 0 convention they land in complementary buckets
    assert(b(1) != b(4))
    // deterministic: same expression twice gives the same keys
    val b2 = vecs.select($"vec_id",
      Embeddings.signBucket(qv, table = 0, bits = 3, dim = 3).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b == b2)
    // a different table uses independent planes: keys must differ for
    // at least one vector (16 planes all agreeing is astronomically
    // unlikely and would mean the seed derivation ignores `table`)
    val bT1 = vecs.select($"vec_id",
      Embeddings.signBucket(qv, table = 1, bits = 3, dim = 3).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b != bT1)
  }

  test("lshTopK recall vs brute-force ground truth on testdata") {
    val emb = Tables.embeddings(spark, sf)
    val k = 3
    val truth = Embeddings.bruteForceTopK(emb, emb, "vec_id", "embedding", k)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // knob math: median true-neighbor cosine on this corpus is ~0.33
    // (θ≈70°, per-plane agreement ~0.61), so one 3-bit table catches a
    // median pair with p≈0.22 and eight independent tables miss it
    // with (1−0.22)^8 ≈ 0.13 → expected recall ~0.85
    val approx = Embeddings.lshTopK(emb, "vec_id", "embedding", k,
      bits = 3, tables = 8)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & approx).size.toDouble / truth.size
    assert(recall >= 0.7, s"recall $recall below 0.7 " +
      s"(${(truth & approx).size}/${truth.size})")
  }

  test("pqTopK: ADC over compressed codes overlaps exact L2 ground truth") {
    val emb = Tables.embeddings(spark, sf)
    val k = 5
    val queries = (0L until 500L by 50L).toSet
    // exact integer L2 ground truth at the same 1e4 quantization
    import org.apache.spark.sql.expressions.Window
    val v = emb.select(col("vec_id").as("id"),
      Embeddings.quantize(col("embedding"), 1e4).as("v"))
    val d2 = aggregate(zip_with(col("v"), col("cv"),
      (x, y) => (x - y) * (x - y)), lit(0L), (a, b) => a + b)
    val w = Window.partitionBy("query_id").orderBy(col("d2").asc, col("neighbor_id").asc)
    val truth = v.filter(col("id") % 50 === 0)
      .select(col("id").as("query_id"), col("v"))
      .crossJoin(v.select(col("id").as("neighbor_id"), col("v").as("cv")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), d2.as("d2"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Embeddings.pqTopK(emb, "vec_id", "embedding",
      queryPred = col("id") % 50 === 0, k = k,
      m = graft.queries.SimQueries.Sim5M,
      subDim = graft.queries.SimQueries.Sim5Sub)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.map(_._1) == queries)
    // near-uniform random corpus = VQ's adversarial case; measured
    // recall@5 at this geometry is 0.30 (chance ≈ 0.01, deterministic
    // pipeline so the number is exact per sf)
    val recall = (truth & approx).size.toDouble / truth.size
    assert(recall >= 0.25, s"PQ recall $recall below 0.25 " +
      s"(${(truth & approx).size}/${truth.size})")
  }

  test("ivfPqTopK equals pqTopK at full probe; pruned probe stays complete") {
    val emb = Tables.embeddings(spark, sf)
    val nLabels = emb.select("label").distinct().count().toInt
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    val full = canon(Embeddings.pqTopK(emb, "vec_id", "embedding",
      col("id") % 50 === 0, k = 5, m = 16, subDim = 4))
    val stacked = canon(Embeddings.ivfPqTopK(emb, "vec_id", "embedding", "label",
      col("id") % 50 === 0, k = 5, nprobe = nLabels, m = 16, subDim = 4))
    assert(full.nonEmpty && stacked == full)
    // pruned probe: every query still fills its k slots from the
    // probed clusters (the approximation changes WHICH neighbors, not
    // whether results come back)
    val pruned = canon(Embeddings.ivfPqTopK(emb, "vec_id", "embedding", "label",
      col("id") % 50 === 0, k = 5, nprobe = 2, m = 16, subDim = 4))
    val perQuery = pruned.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perQuery.values.toSet == Set(5))
    assert(perQuery.keySet == full.map(_._1).toSet)
  }

  test("AnnIndex: batch ingest == one-shot ivfPqTopK; recall vs brute force") {
    import graft.sim.AnnIndex
    val emb = Tables.embeddings(spark, sf)
    val (m, subDim) = (graft.queries.SimQueries.Sim5M,
      graft.queries.SimQueries.Sim5Sub)
    val dir = java.nio.file.Files.createTempDirectory("ann_idx_").toString
    AnnIndex.create(emb, "vec_id", "embedding", "label", dir,
      m = m, subDim = subDim)
    // geometry is immutable: re-training over stored codes refuses
    val e = intercept[IllegalArgumentException](
      AnnIndex.create(emb, "vec_id", "embedding", "label", dir))
    assert(e.getMessage.contains("pinned geometry"), e.getMessage)
    for (i <- 0 until 3)
      AnnIndex.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === i),
        "vec_id", "embedding", "label", dir, i)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).sortBy(t => (t._1, t._4)).toSeq
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val stored = canon(AnnIndex.query(spark, dir, queries,
      "vec_id", "embedding", k = 5, nprobe = 2))
    val oneShot = canon(Embeddings.ivfPqTopK(emb, "vec_id", "embedding",
      "label", col("id") % 50 === 0, k = 5, nprobe = 2,
      m = m, subDim = subDim))
    assert(stored.nonEmpty && stored == oneShot,
      "persisted-index query must equal the one-shot IVF-PQ pass")
    // recall vs exact brute-force cosine truth: the IVF-PQ geometry's
    // measured floor on this corpus (deterministic pipeline — the
    // number is exact per sf; chance ≈ 0.01)
    val truth = Embeddings.bruteForceTopK(queries, emb,
      "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = stored.map(t => (t._1, t._2)).toSet
    val recall = (truth & got).size.toDouble / truth.size
    assert(recall >= 0.1, s"ANN recall $recall vs brute force " +
      s"(${(truth & got).size}/${truth.size})")
    // a retried batch overwrites its own partition: results unchanged
    AnnIndex.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === 1),
      "vec_id", "embedding", "label", dir, 1)
    assert(canon(AnnIndex.query(spark, dir, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)) == oneShot)
    // OPTIMIZE folds the batch partitions into one generation and the
    // query is invariant
    assert(AnnIndex.compact(spark, dir))
    assert(graft.util.IndexTables.fsBatches(spark, s"$dir/codes") == Set(-1))
    assert(canon(AnnIndex.query(spark, dir, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)) == oneShot)
    AnnIndex.dropIndex(spark, dir)
    // querying a geometry-less index refuses loudly
    val e2 = intercept[IllegalArgumentException](
      AnnIndex.query(spark, dir, queries, "vec_id", "embedding", 5, 2))
    assert(e2.getMessage.contains("no pinned geometry"), e2.getMessage)
  }

  test("AnnIndex RETRAIN: identity when undrifted, recall recovery on drift") {
    import graft.sim.AnnIndex
    import graft.text.DedupIndex
    val emb = Tables.embeddings(spark, sf)
    val (m, subDim) = (graft.queries.SimQueries.Sim5M,
      graft.queries.SimQueries.Sim5Sub)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).sortBy(t => (t._1, t._4)).toSeq
    // ---- undrifted: geometry re-derives IDENTICALLY (both trainers
    // are deterministic in the stored rows), probes unchanged
    val dir = java.nio.file.Files.createTempDirectory("ann_rt_").toString
    AnnIndex.create(emb, "vec_id", "embedding", "label", dir,
      m = m, subDim = subDim)
    for (i <- 0 until 2)
      AnnIndex.ingestBatch(emb.filter(pmod(col("vec_id"), lit(2)) === i),
        "vec_id", "embedding", "label", dir, i)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val before = canon(AnnIndex.query(spark, dir, queries,
      "vec_id", "embedding", k = 5, nprobe = 2))
    val geomBefore = graft.util.AtomicText.readLines(s"$dir/_geometry.tsv")
    assert(AnnIndex.retrain(spark, dir))
    assert(graft.util.AtomicText.readLines(s"$dir/_geometry.tsv")
      == geomBefore, "undrifted retrain must re-derive the same geometry")
    assert(canon(AnnIndex.query(spark, dir, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)) == before)
    // sources folded into one generation; further ingest still works
    assert(graft.util.IndexTables.fsBatches(spark, s"$dir/codes") == Set(-1))
    assert(graft.util.IndexTables.fsBatches(spark, s"$dir/vecs") == Set(-1))
    AnnIndex.dropIndex(spark, dir)
    // ---- drifted: create trained on region Y only; region X (far
    // offset, SMALLER ids so the re-trained sampling-init codebook
    // must include it) arrives in a later batch. Under the Y-only
    // codebook X's subvectors collapse toward one codeword; after
    // retrain the codebook represents X and recall recovers.
    val dir2 = java.nio.file.Files.createTempDirectory("ann_rt2_").toString
    val regionY = emb
    val regionX = emb.select(($"vec_id" - 1000000L).as("vec_id"),
      org.apache.spark.sql.functions.transform(
        $"embedding".cast("array<double>"),
        x => x * lit(0.2) + lit(5.0)).as("embedding"),
      $"label")
    AnnIndex.create(regionY, "vec_id", "embedding", "label", dir2,
      m = m, subDim = subDim)
    AnnIndex.ingestBatch(regionY, "vec_id", "embedding", "label", dir2, 0)
    AnnIndex.ingestBatch(regionX, "vec_id", "embedding", "label", dir2, 1)
    val xQueries = regionX.filter($"vec_id" % 50 === 0)
    val truth = Embeddings.bruteForceTopK(xQueries,
        regionY.unionAll(regionX), "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallNow(): Double = {
      val got = AnnIndex.query(spark, dir2, xQueries,
        "vec_id", "embedding", k = 5, nprobe = 3)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (truth & got).size.toDouble / truth.size
    }
    val recallBefore = recallNow()
    assert(AnnIndex.retrain(spark, dir2))
    val recallAfter = recallNow()
    assert(recallAfter > recallBefore,
      s"retrain must recover recall on a drifted corpus " +
        s"($recallBefore -> $recallAfter)")
    AnnIndex.dropIndex(spark, dir2)
  }

  test("nearDupPairs finds planted near-duplicates with high recall") {
    // plant exact copies (cos=1, always collide) and perturbed copies
    // (x*0.9+0.05 → cos≈0.92; per 6-bit table kept with p≈0.44, missed
    // by all 4 tables with p≈0.1 → expected recall ≈ 0.9 on perturbed)
    val base = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    val exact = base.filter($"vec_id" % 100 === 0)
      .select(($"vec_id" + 2000000L).as("vec_id"), $"e")
    val pert = base.filter($"vec_id" % 100 === 50)
      .select(($"vec_id" + 3000000L).as("vec_id"),
        org.apache.spark.sql.functions.transform($"e",
          x => x * org.apache.spark.sql.functions.lit(0.9) +
            org.apache.spark.sql.functions.lit(0.05)).as("e"))
    val got = Embeddings.nearDupPairs(base.unionAll(exact).unionAll(pert),
      "vec_id", "e", threshold = 0.9, bits = 6, tables = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = 10 // 5 exact + 5 perturbed at sf0.01
    // exact pairs share every bucket — all 5 must be present
    assert((0 until 5).forall(i => got.contains((i * 100L, i * 100L + 2000000L))))
    assert(got.size.toDouble / planted >= 0.8,
      s"planted near-dup recall ${got.size}/$planted below 0.8")
    // no false positives: every surviving pair is a planted one
    assert(got.forall { case (a, b) => b - a == 2000000L || b - a == 3000000L })
  }

  test("centroidAssign assigns tight clusters to their own centroid") {
    val clustered = Seq(
      (1L, Array.fill(64)(0.5f), 0), (2L, Array.fill(64)(0.51f), 0),
      (3L, Array.fill(64)(-0.5f), 1), (4L, Array.fill(64)(-0.52f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Embeddings.centroidAssign(clustered, "vec_id", "embedding", "label")
    assert(got.agg(sum("is_match")).first().getLong(0) == 4L)
  }

  test("ivfSearch equals brute force when probing every cluster") {
    val emb = graft.Tables.embeddings(spark, sf)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ivf = key(Embeddings.ivfSearch(emb, "vec_id", "embedding", "label",
      queryPred = col("id") % 50 === 0, k = 5, nprobe = 1000))
    val bf = key(Embeddings.bruteForceTopK(
      emb.filter(col("vec_id") % 50 === 0), emb, "vec_id", "embedding", k = 5))
    assert(ivf.nonEmpty && ivf == bf)
    // pruning actually prunes: nprobe=1 scores strictly fewer pairs
    val pruned = Embeddings.ivfSearch(emb, "vec_id", "embedding", "label",
      queryPred = col("id") % 50 === 0, k = 5, nprobe = 1)
    assert(pruned.count() <= ivf.size)
  }

  test("embedding dimension mismatch fails loudly, never bucket-0 degradation") {
    // 32-dim vectors against the 64-dim hyperplanes: without the guard,
    // zip_with pads nulls -> null dots -> every vector in bucket 0 ->
    // silent O(N^2). The guard must make this an error instead.
    val bad = Seq((1L, Array.fill(32)(0.5f)), (2L, Array.fill(32)(0.6f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Embeddings.nearDupPairs(bad, "vec_id", "embedding", threshold = 0.5).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("embedding dimension mismatch")))
  }

  test("decodeHeader: real magic-byte parsing, one case per container format") {
    val body = "payload".getBytes("UTF-8")
    // synthesizePayload picks the container by id % 3: png, bmp, wav
    assert(Multimodal.decodeHeader(Multimodal.synthesizePayload(0L, 640, 480, body))
      == (("png", 640, 480)))
    assert(Multimodal.decodeHeader(Multimodal.synthesizePayload(1L, 1920, 1080, body))
      == (("bmp", 1920, 1080)))
    // WAV dimensions are (sample_rate, channels)
    assert(Multimodal.decodeHeader(Multimodal.synthesizePayload(2L, 44100, 2, body))
      == (("wav", 44100, 2)))
    // non-media and truncated payloads decode as data, not exceptions
    assert(Multimodal.decodeHeader("just text".getBytes("UTF-8")) == (("bin", 0, 0)))
    assert(Multimodal.decodeHeader(Array[Byte](0x89.toByte, 'P', 'N')) == (("bin", 0, 0)))
    assert(Multimodal.decodeHeader(Array.empty[Byte]) == (("bin", 0, 0)))
  }

  test("ImagePixels: BMP and PNG pixel round trips are byte-exact") {
    import graft.multimodal.ImagePixels
    for (id <- Seq(0L, 1L, 2L, 3L, 7L, 40L, 97L, 193L, 194L)) {
      val (fmt, w, h, px) = ImagePixels.decodePixels(
        ImagePixels.imagePayload(id))
      assert(fmt == (if (id % 2 == 0) "bmp" else "png"))
      assert(w == ImagePixels.widthOf(id) && h == ImagePixels.heightOf(id))
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = ImagePixels.rgbAt(id, x, y)
        assert(px(y * w + x) == ((r << 16) | (g << 8) | b),
          s"id=$id pixel ($x,$y)")
      }
    }
  }

  test("ImagePixels: PNG decoder reconstructs all five scanline filters") {
    import graft.multimodal.ImagePixels
    // target 4×5 RGB grid; encode each row under filter y%5 by
    // inverting the filter equations (the spec's encoder side), so
    // the decoder must apply Sub/Up/Average/Paeth to reconstruct
    val w = 4; val h = 5; val bpp = 3
    def pix(x: Int, y: Int): Array[Int] =
      Array((x * 53 + y * 31 + 7) % 256, (x * 17 + y * 89 + 3) % 256,
        (x * 71 + y * 13 + 11) % 256)
    val stride = 1 + w * bpp
    val raw = new Array[Byte](h * stride)
    val recon = Array.ofDim[Int](h, w * bpp)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until bpp)
      recon(y)(x * bpp + c) = pix(x, y)(c)
    for (y <- 0 until h) {
      val f = y % 5
      raw(y * stride) = f.toByte
      for (k <- 0 until w * bpp) {
        val cur = recon(y)(k)
        val left = if (k >= bpp) recon(y)(k - bpp) else 0
        val up = if (y > 0) recon(y - 1)(k) else 0
        val ul = if (y > 0 && k >= bpp) recon(y - 1)(k - bpp) else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left); val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
        }
        raw(y * stride + 1 + k) = ((cur - pred) & 0xff).toByte
      }
    }
    val defl = new java.util.zip.Deflater
    defl.setInput(raw); defl.finish()
    val out = new java.io.ByteArrayOutputStream
    val buf = new Array[Byte](1024)
    while (!defl.finished()) out.write(buf, 0, defl.deflate(buf))
    defl.end()
    val idat = out.toByteArray
    val bb = java.nio.ByteBuffer.allocate(8 + 25 + 12 + idat.length + 12)
    bb.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    bb.putInt(13).put("IHDR".getBytes("US-ASCII"))
      .putInt(w).putInt(h).put(8.toByte).put(2.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).putInt(0)
    bb.putInt(idat.length).put("IDAT".getBytes("US-ASCII")).put(idat)
      .putInt(0)
    bb.putInt(0).put("IEND".getBytes("US-ASCII")).putInt(0)
    val (fmt, dw, dh, px) = ImagePixels.decodePixels(bb.array())
    assert(fmt == "png" && dw == w && dh == h)
    for (y <- 0 until h; x <- 0 until w) {
      val e = pix(x, y)
      assert(px(y * w + x) == ((e(0) << 16) | (e(1) << 8) | e(2)),
        s"filter ${y % 5} pixel ($x,$y)")
    }
  }

  test("ImagePixels: planted cross-format pairs are near; distinct seeds are far") {
    import graft.multimodal.ImagePixels
    def dhash(id: Long): (Long, Long) = {
      val (_, w, h, px) = ImagePixels.decodePixels(ImagePixels.imagePayload(id))
      ImagePixels.dHash(w, h, px)
    }
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    val planted = (0 until 40 by 2).map(k => ham(dhash(k), dhash(k + 1)))
    assert(planted.count(_ <= 8) >= 18, s"planted Hammings: $planted")
    val far = (0 until 40).map(k => ham(dhash(2 * k), dhash(2 * k + 2)))
    assert(far.count(_ > 8) >= 30, s"cross-seed Hammings: $far")
  }

  test("MediaContent: WAV PCM round trip is sample-exact (sign-extension included)") {
    import graft.multimodal.MediaContent
    for (id <- Seq(0L, 1L, 2L, 3L, 5L, 96L, 97L, 194L)) {
      val (rate, ch, samples) = MediaContent.decodePcm(
        MediaContent.wavPcmBytes(id))
      assert(rate == MediaContent.aRateOf(id) && ch == 1)
      assert(samples.length == MediaContent.aSamplesOf(id))
      for (t <- 0 until samples.length)
        assert(samples(t) == MediaContent.sampleAt(id, t),
          s"id=$id sample $t") // negatives prove the sign-extension
      assert(samples.exists(_ < 0), s"id=$id waveform never negative?")
    }
    // planted pairs (2k, 2k+1): the energy-delta fingerprint stays
    // close under the small perturbation, far across seeds
    def fp(id: Long): (Long, Long) = MediaContent.fingerprint(
      MediaContent.decodePcm(MediaContent.wavPcmBytes(id))._3)
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) +
        java.lang.Long.bitCount(a._2 ^ b._2)
    val planted = (0 until 40 by 2).map(k => ham(fp(k), fp(k + 1)))
    val far = (0 until 40).map(k => ham(fp(2 * k), fp(2 * k + 2)))
    assert(planted.count(_ <= 10) >= 18, s"planted: $planted")
    assert(far.max > 10, s"cross-seed: $far")
  }

  test("MediaContent: AVI frame seek decodes exactly the sampled frames") {
    import graft.multimodal.MediaContent
    // 23 is a TRIMMED twin ((23/2)%3==2, (23/2)%5>=1): its container
    // drops the first 5 texture frames, so frame f carries texture
    // f + vTrimOf(id)
    for (id <- Seq(0L, 3L, 7L, 11L, 23L, 194L)) {
      val payload = MediaContent.aviPixelBytes(id)
      // header parses through the standard reader
      val (w, h, usf, tf) = Multimodal.decodeAviHeader(payload).get
      assert(w == MediaContent.vWidthOf(id) &&
        h == MediaContent.vHeightOf(id) &&
        usf == MediaContent.VUsPerFrame &&
        tf == MediaContent.vFramesOf(id))
      val wanted = MediaContent.sampledFrames(usf, tf)
      assert(wanted.nonEmpty && wanted.forall(f => f >= 0 && f < tf))
      val (_, _, _, _, frames) =
        MediaContent.decodeAviFrames(payload, wanted)
      assert(frames.keySet == wanted.toSet,
        "seek must return exactly the sampled frames")
      for (f <- wanted; y <- 0 until h; x <- 0 until w) {
        val (r, g, b) =
          MediaContent.vRgbAt(id, f + MediaContent.vTrimOf(id), x, y)
        assert(frames(f)(y * w + x) == ((r << 16) | (g << 8) | b),
          s"id=$id frame $f pixel ($x,$y)")
      }
      // a mid-stream frame request seeks past earlier chunks
      val mid = tf / 2
      val (_, _, _, _, one) =
        MediaContent.decodeAviFrames(payload, Seq(mid))
      assert(one.keySet == Set(mid))
    }
  }

  test("multimodal extractMeta: batch decode recovers header fields from bytes") {
    val docs  = Seq((9L, "hello world"), (10L, "x"), (11L, "")).toDF("doc_id", "text")
    val metas = Multimodal.extractMeta(Multimodal.mediaFromDocuments(spark, docs))
      .collect().map(m => m.id -> m).toMap
    // id 9 → PNG (9%3==0): 33-byte header + 11-byte body, parsed dims
    assert(metas(9L).format == "png")
    assert(metas(9L).width == (64 + 9 * 7 % 1920) && metas(9L).height == (64 + 9 * 13 % 1080))
    assert(metas(9L).n_bytes == 33L + 11L)
    // id 10 → BMP, id 11 → WAV; empty body is fine
    assert(metas(10L).format == "bmp" && metas(10L).n_bytes == 54L + 1L)
    assert(metas(11L).format == "wav" && metas(11L).n_bytes == 44L + 0L)
    // raw (container-less) bytes still flow through as opaque binary
    val raw = Multimodal.extractMeta(Multimodal.fromDocuments(spark, docs))
      .collect().map(m => m.id -> m).toMap
    assert(raw(9L).format == "bin" && raw(9L).n_bytes == 11L)
    assert(raw(9L).checksum == "5eb63bbbe01eeed093cb22bb8f5acdc3") // md5("hello world")
  }

  test("decodeAviHeader + extractVideoMeta: AVI round trip, duration math") {
    val docs = Seq((0L, "short clip"), (1L, "x"), (239L, "long"))
      .toDF("doc_id", "text")
    val metas = Multimodal.extractVideoMeta(
      Multimodal.videoFromDocuments(spark, docs))
      .collect().map(m => m.id -> m).toMap
    // id 0 → 10 fps (100000 µs/frame), 10 frames → 1000 ms
    assert(metas(0L).format == "avi")
    assert(metas(0L).us_per_frame == 100000 && metas(0L).total_frames == 10)
    assert(metas(0L).duration_ms == 1000L)
    assert(metas(0L).width == 64 && metas(0L).height == 64)
    assert(metas(0L).n_bytes == 88L + 10L)
    // id 1 → 24 fps: 1000000/24 = 41666 (integer µs), 11 frames
    assert(metas(1L).us_per_frame == 41666 && metas(1L).total_frames == 11)
    assert(metas(1L).duration_ms == 11L * 41666 / 1000)
    // id 239 → 30 fps, 10 + 239 % 240 = 249 frames
    assert(metas(239L).total_frames == 249)
    // non-AVI payloads (a WAV is also RIFF — must NOT parse as AVI)
    assert(Multimodal.decodeAviHeader(
      Multimodal.synthesizePayload(2L, 44100, 2, "b".getBytes)).isEmpty)
    assert(Multimodal.decodeAviHeader("plain text".getBytes).isEmpty)
    assert(Multimodal.decodeAviHeader(Array.empty[Byte]).isEmpty)
  }

  test("kMeans: recovers planted label structure, fully deterministic") {
    import graft.sim.Embeddings
    val emb = graft.Tables.embeddings(spark, sf)
    val k = emb.select("label").distinct().count().toInt
    def run() = Embeddings.kMeans(emb, "vec_id", "embedding", k = k,
      iters = 8).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a = run()
    assert(a.size == emb.count(), "every vector assigned exactly once")
    // purity: each cluster's majority true label — the corpus is
    // label-clustered, so Lloyd's from lowest-id seeds must beat the
    // 1/k chance level by a wide margin
    val labels = emb.select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byCluster = a.toSeq.groupBy(_._2).values
    val purity = byCluster.map { members =>
      val ls = members.map(m => labels(m._1))
      ls.groupBy(identity).values.map(_.size).max.toDouble / ls.size
    }
    val weighted = byCluster.zip(purity).map { case (m, p) => m.size * p }.sum /
      a.size
    // calibration: this corpus is WEAKLY clustered — assigning every
    // vector to its true label's centroid only reaches 0.374, and a
    // float64 reference Lloyd's (same seeds, 8 iters) lands at 0.176;
    // the integer implementation matches it exactly. The bar is
    // 1.5× chance: clearly above random, honestly below the
    // clean-corpus ceiling
    assert(weighted > 1.5 / k, f"weighted purity $weighted%.3f vs chance ${1.0 / k}%.3f")
    // determinism: an identical re-run yields the identical assignment
    assert(run() == a, "kMeans must be bit-deterministic")
  }

  test("CompressedCodecs: LZW survives width growth and dictionary reset") {
    import graft.multimodal.CompressedCodecs._
    // the generator's tiny images never push the dictionary past 9-bit
    // codes; a long pseudo-random stream forces 9→10→11→12-bit growth
    // AND the 4096-entry clear-and-reset, the paths a real GIF needs
    var st = 12345L
    val data = Array.fill(60000) {
      st = st * 6364136223846793005L + 1442695040888963407L
      ((st >>> 33) % 256).toInt
    }
    val enc = lzwEncode(data, minCodeSize = 8)
    assert(lzwDecode(enc, 8, data.length).sameElements(data))
    // KwKwK case: aaa...a produces code==next immediately
    val runs = Array.fill(500)(7)
    assert(lzwDecode(lzwEncode(runs, 8), 8, runs.length).sameElements(runs))
  }

  test("CompressedCodecs: GIF decoder skips extension blocks") {
    import graft.multimodal.CompressedCodecs._
    val p = gifPixelBytes(42L)
    // splice a Graphic Control Extension after the palette (offset
    // 13 + 768) — real-world GIFs carry these before the descriptor
    val gce = Array(0x21, 0xF9, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00)
      .map(_.toByte)
    val spliced = p.take(13 + 768) ++ gce ++ p.drop(13 + 768)
    val (w, h, px) = decodeGifPixels(spliced)
    assert(w == graft.multimodal.ImagePixels.widthOf(42L))
    for (y <- 0 until h; x <- 0 until w)
      assert((px(y * w + x) & 0xff) == gifIndexAt(42L, x, y),
        s"pixel ($x,$y)")
  }

  test("CompressedCodecs: FLAC round trip is sample-exact; CRCs verified") {
    import graft.multimodal.CompressedCodecs._
    import graft.multimodal.MediaContent
    // one id per subframe arm (verbatim / fixed1 / fixed2)
    for (id <- Seq(0L, 1L, 2L, 7L, 11L)) {
      val p = flacAudioBytes(id)
      val (rate, tname, s) = decodeFlacSamples(p)
      assert(rate == MediaContent.aRateOf(id))
      assert(tname == subframeTypeOf(id))
      assert(s.length == MediaContent.aSamplesOf(id))
      for (t <- 0 until s.length)
        assert(s(t) == MediaContent.sampleAt(id, t), s"id=$id t=$t")
    }
    // a flipped payload bit must fail a CRC, not decode silently
    val p = flacAudioBytes(4L)
    val corrupt = p.clone()
    corrupt(p.length - 40) = (corrupt(p.length - 40) ^ 0x10).toByte
    intercept[Exception](decodeFlacSamples(corrupt))
  }

  test("CompressedCodecs: constant FLAC subframes decode") {
    import graft.multimodal.CompressedCodecs._
    // the generator never emits constant subframes (the waveform is
    // never flat) but the decoder must read them; hand-build one by
    // swapping the subframe of a tiny frame is overkill — instead
    // verify via the public crc helpers that a constant stream the
    // spec describes round-trips through the reader's constant arm
    // using a minimal hand-assembled frame
    val n = 2112 // >= 65 energy frames so the fingerprint fold works
    val head = flacAudioBytes(0L).take(42) // STREAMINFO template (n=2112)
    val bw = java.nio.ByteBuffer.allocate(16 + n * 0)
    // frame: sync+codes as the generator writes them
    val fh = new java.io.ByteArrayOutputStream
    fh.write(Array(0xFF, 0xF8, 0x7D, 0x08, 0x00).map(_.toByte))
    fh.write(Array(((n - 1) >> 8) & 0xff, (n - 1) & 0xff).map(_.toByte))
    fh.write(Array(0x1F, 0x40).map(_.toByte)) // 8000 Hz
    val hdr = fh.toByteArray
    val withCrc8 = hdr :+ crc8(hdr, 0, hdr.length).toByte
    val sub = Array(0x00, 0x00, 0x2A).map(_.toByte) // constant, value 42
    val frame = withCrc8 ++ sub
    val c16 = crc16(frame, 0, frame.length)
    val payload = head ++ frame ++
      Array(((c16 >> 8) & 0xff).toByte, (c16 & 0xff).toByte)
    val (rate, tname, s) = decodeFlacSamples(payload)
    assert(rate == 8000 && tname == "constant")
    assert(s.length == n && s.forall(_ == 42))
    bw.clear()
  }

  test("JpegCodec: DC-exact corpus round-trips pixel-exact; plant lands") {
    import graft.multimodal.JpegCodec
    for (id <- Seq(0L, 1L, 96L, 97L, 193L, 200L)) {
      val (w, h, px) = JpegCodec.decodeJpegGray(JpegCodec.jpegGrayBytes(id))
      assert(w == JpegCodec.JW && h == JpegCodec.JH)
      for (y <- 0 until h; x <- 0 until w)
        assert(px(y * w + x) == JpegCodec.jLumAt(id, x / 8, y / 8),
          s"id=$id pixel ($x,$y)")
    }
    // the odd twin's planted block differs from its even original
    val (_, _, p0) = JpegCodec.decodeJpegGray(JpegCodec.jpegGrayBytes(8L))
    val (_, _, p1) = JpegCodec.decodeJpegGray(JpegCodec.jpegGrayBytes(9L))
    assert(p0.zip(p1).count { case (a, b) => a != b } == 64,
      "exactly one 8x8 block must differ within a planted pair")
  }

  test("JpegCodec: AC coefficients decode through run-length/ZRL/IDCT") {
    import graft.multimodal.JpegCodec
    // a block the generator corpus never writes: DC + scattered ACs
    // incl. a >16-zero gap (forces a ZRL code); reference IDCT
    // computed independently here
    val coefZig = new Array[Int](64)
    coefZig(0) = 37   // DC
    coefZig(1) = -5   // first AC
    coefZig(7) = 12
    coefZig(30) = -3  // 22 zeros before it: ZRL + run
    val (w, h, px) = JpegCodec.decodeJpegGray(
      JpegCodec.encodeTestBlock(coefZig))
    assert(w == 8 && h == 8)
    // reference: dezigzag + dequant(8) + textbook IDCT
    val zig = Array(
      0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
      12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
      35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
      58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)
    val nat = new Array[Int](64)
    for (k <- 0 until 64) nat(zig(k)) = coefZig(k) * 8
    def c(u: Int) = if (u == 0) 1.0 / math.sqrt(2) else 1.0
    for (y <- 0 until 8; x <- 0 until 8) {
      var s = 0.0
      for (v <- 0 until 8; u <- 0 until 8)
        s += c(u) * c(v) * nat(v * 8 + u) *
          math.cos((2 * x + 1) * u * math.Pi / 16) *
          math.cos((2 * y + 1) * v * math.Pi / 16)
      val expect = math.max(0, math.min(255, math.round(s / 4.0).toInt + 128))
      assert(px(y * 8 + x) == expect, s"AC block pixel ($x,$y)")
    }
    // corrupt scan: a non-stuffed marker inside entropy data fails
    val good = JpegCodec.jpegGrayBytes(3L)
    val bad = good.clone()
    bad(bad.length - 12) = 0xff.toByte
    bad(bad.length - 11) = 0xc0.toByte
    intercept[Exception](JpegCodec.decodeJpegGray(bad))
  }

  test("JpegCodec: color 4:2:0/4:4:4 luma round-trips pixel-exact") {
    import graft.multimodal.JpegCodec
    // even ids = 4:2:0 (interleaved 2x2 luma + chroma per MCU), odd
    // = 4:4:4; ids ≡ 0 (mod 3) carry a chroma AC coefficient — the
    // luma plane must come back exact through all of it
    for (id <- Seq(0L, 1L, 2L, 3L, 96L, 97L, 98L, 200L)) {
      val (w, h, px, label) =
        JpegCodec.decodeJpegLumaInfo(JpegCodec.jpegColorBytes(id))
      assert(w == JpegCodec.JWC && h == JpegCodec.JHC)
      assert(label == (if (id % 2 == 0) "420" else "444"), s"id=$id $label")
      for (y <- 0 until h; x <- 0 until w)
        assert(px(y * w + x) == JpegCodec.jColorLumAt(id, x / 8, y / 8),
          s"id=$id pixel ($x,$y)")
    }
  }

  test("JpegCodec: foreign frame types and standalone markers refuse loudly") {
    import graft.multimodal.JpegCodec
    val good = JpegCodec.jpegGrayBytes(3L)
    // every non-SOF0/SOF2 frame marker must refuse, not skip-as-APPn
    // (round-13 ADVICE: 0xc5-0xc7/0xc9-0xcf fell into the skip arm;
    // 0xc2 decodes as progressive since round 15)
    for (sof <- Seq(0xc1, 0xc5, 0xc7, 0xc9, 0xcb, 0xcd, 0xcf)) {
      val bad = good.clone()
      // the generator emits SOF0 right after the 69-byte DQT at [2]
      assert((bad(2 + 69) & 0xff) == 0xff && (bad(2 + 70) & 0xff) == 0xc0)
      bad(2 + 70) = sof.toByte
      val e = intercept[IllegalArgumentException](
        JpegCodec.decodeJpegGray(bad))
      assert(e.getMessage.contains("SOF0"), s"marker $sof: ${e.getMessage}")
    }
    // a standalone marker (TEM/RSTn) has no length field — splicing
    // one before SOF0 must refuse, never parse bytes as a length
    for (alone <- Seq(0x01, 0xd0, 0xd7)) {
      val spliced = good.take(2) ++ Array(0xff.toByte, alone.toByte) ++
        good.drop(2)
      val e = intercept[IllegalArgumentException](
        JpegCodec.decodeJpegGray(spliced))
      assert(e.getMessage.contains("standalone"), e.getMessage)
    }
    // DRI refuses (restart intervals out of scope)
    val dri = good.take(2) ++
      Array(0xff, 0xdd, 0, 4, 0, 8).map(_.toByte) ++ good.drop(2)
    val e = intercept[IllegalArgumentException](
      JpegCodec.decodeJpegGray(dri))
    assert(e.getMessage.contains("DRI"), e.getMessage)
  }

  test("JpegCodec: progressive DC scan hashes equal the baseline twin") {
    import graft.multimodal.{ImagePixels, JpegCodec}
    // the whole point of the SOF2 path: same lumas through a
    // different coding order must produce the identical dHash
    for (id <- Seq(0L, 1L, 2L, 3L, 96L, 97L, 200L)) {
      val (w, h, px, label) =
        JpegCodec.decodeJpegLumaInfo(JpegCodec.jpegProgressiveBytes(id))
      val (bw, bh, bpx, blabel) =
        JpegCodec.decodeJpegLumaInfo(JpegCodec.jpegColorBytes(id))
      assert((w, h) == ((bw, bh)))
      assert(label == "p" + blabel, s"id=$id $label vs $blabel")
      assert(px.toSeq == bpx.toSeq, s"id=$id pixels diverge across paths")
      def hash(pxs: Array[Int]) =
        ImagePixels.dHash(w, h, pxs.map(g => (g << 16) | (g << 8) | g))
      assert(hash(px) == hash(bpx))
    }
    // an AC-first progressive stream refuses (DC must come first,
    // §G.1.1.1.1) — patch the DC scan's SOS to Ss=1,Se=63
    val p = JpegCodec.jpegProgressiveBytes(4L)
    val s = p.indexOfSlice(Seq[Byte](0xff.toByte, 0xda.toByte))
    val acFirst = p.clone()
    acFirst(s + 2 + 2 + 1 + 6) = 1   // Ss
    acFirst(s + 2 + 2 + 1 + 7) = 63  // Se
    val e1 = intercept[IllegalArgumentException](
      JpegCodec.decodeJpegLumaInfo(acFirst))
    assert(e1.getMessage.contains("DC band"), e1.getMessage)
    // a refinement-first stream (Ah != 0) refuses
    val refFirst = p.clone()
    refFirst(s + 2 + 2 + 1 + 8) = 0x10 // AhAl: Ah=1
    val e2 = intercept[IllegalArgumentException](
      JpegCodec.decodeJpegLumaInfo(refFirst))
    assert(e2.getMessage.contains("refinement"), e2.getMessage)
    // Al = 1 applies the point transform: the decoded DC doubles, so
    // every pixel is exactly clamp(2·luma − 128) of the Al=0 decode
    val al1 = p.clone()
    al1(s + 2 + 2 + 1 + 8) = 0x01 // AhAl: Al=1
    val (_, _, px1, _) = JpegCodec.decodeJpegLumaInfo(al1)
    val (_, _, px0, _) = JpegCodec.decodeJpegLumaInfo(p)
    for (i <- px0.indices)
      assert(px1(i) == math.max(0, math.min(255, 2 * px0(i) - 128)),
        s"pixel $i: Al=1 must shift the DC, got ${px1(i)} vs ${px0(i)}")
  }

  test("Mp4Samples: sample table locates every frame byte-exact") {
    import graft.multimodal.{MediaContent, Mp4Samples}
    for (id <- Seq(0L, 1L, 2L, 5L, 7L, 9L)) {
      val p = Mp4Samples.mp4SampleBytes(id)
      val tf = Mp4Samples.tfOf(id)
      // decode EVERY frame via the sample table and compare against
      // the texture arithmetic — offsets must be byte-exact through
      // variable sizes and the short last chunk
      val (w, h, usf, n, frames) = Mp4Samples.decodeMp4Frames(p, 0 until tf)
      assert(w == MediaContent.vWidthOf(id) &&
        h == MediaContent.vHeightOf(id))
      assert(usf == MediaContent.VUsPerFrame && n == tf)
      for (f <- 0 until tf; y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = MediaContent.vRgbAt(id, f, x, y)
        assert(frames(f)(y * w + x) == ((r << 16) | (g << 8) | b),
          s"id=$id frame=$f pixel ($x,$y)")
      }
      // a header-only pass touches no frame
      assert(Mp4Samples.decodeMp4Frames(p, Nil)._5.isEmpty)
    }
    // guards: non-BMFF refuses; stsz/stts count mismatch refuses
    intercept[IllegalArgumentException](
      Mp4Samples.decodeMp4Frames(Array.fill[Byte](32)(0), Seq(0)))
    val p = Mp4Samples.mp4SampleBytes(4L)
    val stsz = { // find stsz and corrupt its count
      var i = -1
      for (j <- 0 until p.length - 4)
        if (p(j) == 's' && p(j + 1) == 't' && p(j + 2) == 's' &&
          p(j + 3) == 'z') i = j
      i
    }
    assert(stsz > 0)
    val bad = p.clone()
    bad(stsz + 15) = (bad(stsz + 15) + 1).toByte // count low byte
    val e = intercept[IllegalArgumentException](
      Mp4Samples.decodeMp4Frames(bad, Seq(0)))
    assert(e.getMessage.contains("stsz"), e.getMessage)
  }

  test("PdfText: general content streams, not just the generator's") {
    import graft.multimodal.PdfText
    // hand-built raw-stream PDF exercising shapes the generator never
    // emits: a TJ array with kerning numbers, nested parentheses,
    // octal + newline escapes, and 'endstream' INSIDE the stream data
    // (a delimiter-matched reader would shear; /Length must win)
    val content = "BT /F1 10 Tf 50 700 Td\n" +
      "[(Hel) -120 (lo )] TJ (wor\\154d) Tj\n" + // \154 = 'l'
      "0 -12 Td ((nested) \\(esc\\)) Tj\n" +
      "0 -12 Td (endstream bait) Tj\nET"
    val data = content.getBytes("ISO-8859-1")
    val pdf = new java.io.ByteArrayOutputStream
    def put(s: String): Unit = pdf.write(s.getBytes("ISO-8859-1"))
    put("%PDF-1.4\n1 0 obj << /Type /Catalog >> endobj\n")
    put(s"4 0 obj << /Length ${data.length} >> stream\n")
    pdf.write(data, 0, data.length)
    put("\nendstream endobj\ntrailer << /Size 5 >>\n%%EOF\n")
    val (filter, n, text) = PdfText.extractText(pdf.toByteArray)
    assert(filter == "raw" && n == 3, s"($filter, $n)")
    assert(text ==
      "Hello world\n(nested) (esc)\nendstream bait", s"<$text>")
    // truncated flate stream refuses loudly
    val bad = PdfText.pdfBytes(2L, Array("a", "b", "c"))
    val cut = java.util.Arrays.copyOf(bad, bad.length)
    // find the stream data start and zero a tail chunk of the deflate
    val s = new String(cut, "ISO-8859-1")
    val at = s.indexOf("stream\n") + 7
    java.util.Arrays.fill(cut, at + 4, at + 12, 0.toByte)
    intercept[Exception](PdfText.extractText(cut))
  }

  test("PdfText: nested dicts and dict-bait payloads parse correctly") {
    import graft.multimodal.PdfText
    // a NESTED dict before the stream keyword (round 14's [^>]* regex
    // closed at its first '>' and read the WRONG /Length), a nested
    // /Length that must NOT win, and payload bytes containing a full
    // '<< /Length 1 >> stream' bait the scanner must never match inside
    val content = "BT /F1 10 Tf 10 700 Td\n(real text here) Tj\nET\n" +
      "% bait: << /Length 1 >> stream\nZ\nendstream"
    val data = content.getBytes("ISO-8859-1")
    val pdf = new java.io.ByteArrayOutputStream
    def put(x: String): Unit = pdf.write(x.getBytes("ISO-8859-1"))
    put("%PDF-1.4\n1 0 obj << /Type /Catalog >> endobj\n")
    put(s"4 0 obj << /DecodeParms << /Predictor 1 /Length 99999 >> " +
      s"/Length ${data.length} >> stream\n")
    pdf.write(data, 0, data.length)
    put("\nendstream endobj\ntrailer << /Size 5 >>\n%%EOF\n")
    val (filter, n, text) = PdfText.extractText(pdf.toByteArray)
    assert(filter == "raw" && n == 1, s"($filter, $n)")
    assert(text == "real text here", s"<$text>")
    // a stream dict whose ONLY /Length is inside a nested dict refuses
    val noLen = new java.io.ByteArrayOutputStream
    def put2(x: String): Unit = noLen.write(x.getBytes("ISO-8859-1"))
    put2("%PDF-1.4\n4 0 obj << /DP << /Length 4 >> >> stream\nabcd\n" +
      "endstream\n%%EOF\n")
    val e = intercept[IllegalArgumentException](
      PdfText.extractText(noLen.toByteArray))
    assert(e.getMessage.contains("top-level /Length"), e.getMessage)
    // an unterminated dict refuses instead of scanning forever
    val open = "%PDF-1.4\n4 0 obj << /A << /B 1 >> stream\n".getBytes("ISO-8859-1")
    val e2 = intercept[IllegalArgumentException](PdfText.extractText(open))
    assert(e2.getMessage.contains("never closes"), e2.getMessage)
  }

  test("animated GIF: multi-frame round trip, ordinals, refusals") {
    import graft.multimodal.{CompressedCodecs, MediaContent}
    for (id <- Seq(0L, 5L, 13L, 17L)) { // incl. a trimmed twin (13)
      val p = CompressedCodecs.gifAnimBytes(id)
      val (w, h, frames) = CompressedCodecs.decodeGifFrames(p)
      assert(w == MediaContent.vWidthOf(id) &&
        h == MediaContent.vHeightOf(id))
      val sampled = MediaContent.sampledFrames(
        MediaContent.VUsPerFrame, MediaContent.vFramesOf(id))
        .distinct.sorted
      assert(frames.size == sampled.size, s"id=$id ${frames.size}")
      val trim = MediaContent.vTrimOf(id)
      for ((f, ord) <- sampled.zipWithIndex; y <- 0 until h;
           x <- 0 until w) {
        val (r, g, b) = MediaContent.vRgbAt(id, f + trim, x, y)
        val luma = (299 * r + 587 * g + 114 * b) / 1000
        assert(frames(ord)(y * w + x) ==
          ((luma << 16) | (luma << 8) | luma), s"id=$id ord=$ord ($x,$y)")
      }
    }
    // a partial-frame descriptor (composition) refuses loudly
    val p = CompressedCodecs.gifAnimBytes(2L)
    val bad = p.clone()
    // first descriptor starts after header(13) + GCT(768) + GCE(8)
    assert((bad(13 + 768 + 8) & 0xff) == 0x2c)
    bad(13 + 768 + 8 + 1) = 1 // left = 1: no longer full-frame
    val e = intercept[IllegalArgumentException](
      CompressedCodecs.decodeGifFrames(bad))
    assert(e.getMessage.contains("partial-frame"), e.getMessage)
  }

  test("frameSampleIndices: even spacing, cap, and zero-duration guard") {
    val df = Seq((1L, 10000.0), (2L, 0.0)).toDF("id", "dur_ms")
    val got = df.select($"id",
      Multimodal.frameSampleIndices($"dur_ms", fps = 2.0, maxFrames = 4).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got(1).length == 4)
    assert(got(1) == Seq(0, 5, 10, 15)) // 20 frames sampled at 4 evenly
    assert(got(2).isEmpty)
  }
}
