package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.{Fixtures, ImageCodec}

/** Multimodal plumbing over the image fixture table: real decode (raw/png),
  * resize, feature-extract, frame-sample — verified against the shared
  * in-JVM codec kernels per-row.
  */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark

  lazy val imgs = Fixtures.images(spark, 500)

  test("decodeMeta: every phash recomputes exactly; lossless roundtrip PSNR = inf") {
    val m = Multimodal.decodeMeta(imgs)
    val rows = m.collect()
    assert(rows.length === 500)
    assert(rows.forall(_.getBoolean(7)), "phash mismatch")
    assert(rows.forall(r => r.getDouble(8).isPosInfinity), "lossless roundtrip must be exact")
    val lumas = rows.map(_.getDouble(5))
    assert(lumas.forall(l => l > 40 && l < 210))
  }

  test("image near-dup: perturbed copies found by banded hamming over stored avgHash") {
    import spark.implicits._
    // real image path: decode-time avgHash64 stored as a column, then the
    // generic banded hamming join — the at-scale pHash dedup shape. Planted
    // copies perturb ONE 8x8 block mean past the hash threshold (hamming 1);
    // unrelated fixture images stay far apart.
    val base = imgs.limit(40).select("image_id", "bytes", "w", "h", "fmt").collect()
    val rows = base.flatMap { r =>
      val (id, bytes, w, h, fmt) = (r.getString(0), r.getAs[Array[Byte]](1),
        r.getInt(2), r.getInt(3), r.getString(4))
      val px = ImageCodec.decode(bytes, fmt, w, h)
      val dup = px.clone()
      // push the first block well past the global mean in either direction
      val bw = w / 8; val bh = h / 8
      val target: Byte = if ((ImageCodec.avgHash64(px, w, h) & 1L) != 0) 0 else -1
      for (y <- 0 until bh; x <- 0 until bw) dup(y * w + x) = target
      Seq(id -> ImageCodec.avgHash64(px, w, h),
        s"${id}_dup" -> ImageCodec.avgHash64(dup, w, h))
    }.toSeq
    val got = Dedup.hammingPairs(rows.toDF("image_id", "phash"),
        col("image_id"), col("phash"), maxDist = 1, bits = 64)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val expect = (for {
      (ia, ha) <- rows; (ib, hb) <- rows if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 1
    } yield (ia, ib, d)).toSet
    assert(got === expect)
    // every planted copy is found against its source
    for ((id, _) <- rows if !id.endsWith("_dup"))
      assert(got.exists(p => p._1 == id && p._2 == s"${id}_dup"),
        s"planted near-dup for $id not found")
  }

  test("resize preserves the 8x8 block structure of fixture images") {
    val r = Multimodal.resize(imgs.limit(64), 32, 32)
    val joined = r.withColumnRenamed("bytes", "rbytes")
      .join(imgs.select("image_id", "phash"), "image_id")
    val rows = joined.select("rbytes", "phash").collect()
    assert(rows.length === 64)
    for (row <- rows) {
      val px = row.getAs[Array[Byte]](0)
      assert(ImageCodec.avgHash64(px, 32, 32) === row.getLong(1))
    }
  }

  test("features: block-mean embedding encodes the phash bits") {
    val f = Multimodal.features(imgs.limit(32))
      .join(imgs.select("image_id", "phash"), "image_id")
    for (row <- f.select("embedding", "hist8", "phash").collect()) {
      val emb = row.getSeq[Double](0)
      val phash = row.getLong(2)
      assert(emb.length === 64)
      for (k <- 0 until 64) {
        val expect = if (((phash >>> k) & 1L) == 1L) 200.0 / 255 else 50.0 / 255
        assert(math.abs(emb(k) - expect) < 1e-9, s"bit $k")
      }
      assert(row.getSeq[Long](1).sum === row.getSeq[Long](1).sum) // hist present
    }
  }

  test("sampleFrames: fan-out count and byte-exact slices") {
    val one = imgs.where(col("fmt") === "raw").limit(1)
    val src = one.select("bytes", "w", "h").collect().head
    val (bytes, w, h) = (src.getAs[Array[Byte]](0), src.getInt(1), src.getInt(2))
    val frames = Multimodal.sampleFrames(one, frameH = 8, stride = 2).collect()
    assert(frames.length === (h / 8 + 1) / 2)
    for (f <- frames) {
      val idx = f.getInt(1)
      val expect = java.util.Arrays.copyOfRange(bytes, idx * 8 * w, (idx + 1) * 8 * w)
      assert(java.util.Arrays.equals(f.getAs[Array[Byte]](2), expect), s"frame $idx")
    }
  }

  test("audioFeatures: windowed RMS/peak match a hand computation") {
    import spark.implicits._
    val pcm = Array.tabulate(256)(i => ((i % 32) + 112).toByte) // sawtooth around 128
    val df = Seq(("a1", pcm)).toDF("image_id", "bytes")
    val rows = Multimodal.audioFeatures(df, window = 64).collect()
    assert(rows.length === 4)
    val w0 = (0 until 64).map(i => ((pcm(i) & 0xff) - 128))
    val expRms = math.sqrt(w0.map(v => v.toDouble * v).sum / 64)
    assert(math.abs(rows.head.getDouble(2) - expRms) < 1e-12)
    assert(rows.head.getInt(3) === w0.map(math.abs).max)
  }

  test("curateImages: planted re-uploads dedup, gates hold, min-res filter and caption tokens exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    // 6 distinct images (2 big 64x64, 4 small 32x32) + 2 exact re-uploads
    val base = (0 until 6).map { i =>
      val (w, h) = if (i < 2) (64, 64) else (32, 32)
      val px = Array.fill(w * h)(rnd.nextInt(256).toByte)
      (f"img$i%03d", px, w, h, "raw", s"cap num $i #$i", ImageCodec.avgHash64(px, w, h))
    }
    val dups = base.take(2).map { case (id, px, w, h, f, c, p) => (s"xdup-$id", px, w, h, f, c, p) }
    val df = (base ++ dups).toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val r = Multimodal.curateImages(df, minPixels = 2048).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getString(0) === "raw")
    assert(row.getLong(1) === 8L)  // n_rows
    assert(row.getLong(2) === 6L)  // n_canonical
    assert(row.getLong(3) === 2L)  // n_dups_removed
    assert(row.getLong(4) === 2L)  // n_kept_minres (only the 64x64 pair)
    // caption "cap num i #i": wordpieces = cap, num, i, #, i = 5 each
    assert(row.getLong(5) === 10L)
    assert(row.getInt(6) === 1 && row.getInt(7) === 1)
  }

  test("stub decode path: a foreign fmt tag flows through the same plumbing") {
    import spark.implicits._
    val fake = Seq(("x1", Array[Byte](1, 2, 3), 16, 16, "xyz-future-codec", "cap", 0L))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val m = Multimodal.decodeMeta(fake).collect().head
    assert(m.getInt(4) === 256) // decoded to w*h pixels deterministically
  }

  test("webp decode is REAL (VP8L) and the lossless roundtrip PSNR is infinite") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 4).map { i =>
      val px = Array.fill(32 * 32)(rnd.nextInt(256).toByte)
      ("w" + i, ImageCodec.encodeWebp(px, 32, 32), 32, 32, "webp", "cap",
        ImageCodec.avgHash64(px, 32, 32))
    }
    val df = rows.toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val m = Multimodal.decodeMeta(df).collect()
    assert(m.forall(_.getBoolean(7)), "phash of decoded webp must recompute exactly")
    assert(m.forall(_.getDouble(8).isInfinity), "VP8L is lossless — PSNR must be infinite")
  }

  test("jpeg decode is REAL and lossy roundtrip clears the 40 dB gate") {
    import spark.implicits._
    // pure noise is the DCT worst case; q=0.95 default must still clear 40dB
    val rnd = new scala.util.Random(7)
    val rows = (0 until 8).map { i =>
      val px = Array.fill(64 * 64)(rnd.nextInt(256).toByte)
      (s"j$i", ImageCodec.encodeJpeg(px, 64, 64), 64, 64, "jpg", "cap",
        ImageCodec.avgHash64(ImageCodec.decode(ImageCodec.encodeJpeg(px, 64, 64), "jpg", 64, 64), 64, 64))
    }
    val df = rows.toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val m = Multimodal.decodeMeta(df).collect()
    assert(m.forall(_.getBoolean(7)), "phash of decoded jpeg must recompute")
    val psnrs = m.map(_.getDouble(8))
    assert(psnrs.forall(p => p >= 40.0 && !p.isInfinity),
      s"lossy jpeg roundtrip must be finite and >= 40 dB: ${psnrs.mkString(",")}")
  }

  test("zonalStats equals in-JVM decode + inclusive rect containment") {
    import graft.oracle.Derive
    val got = Multimodal.zonalStats(spark, imgs, Derive.rectSpecs)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // brute force: decode every image with the codec directly
    val expect = scala.collection.mutable.Map[String, (Long, Long, Long)]()
    imgs.select("bytes", "w", "h", "fmt", "phash").collect().foreach { r =>
      val (bytes, w, h, fmt, phash) = (r.getAs[Array[Byte]](0), r.getInt(1),
        r.getInt(2), r.getString(3), r.getLong(4))
      val px = ImageCodec.decode(bytes, fmt, w, h)
      val sum = px.map(b => (b & 0xff).toLong).sum
      val lon = graft.core.PhashLoc.lonMicro(phash)
      val lat = graft.core.PhashLoc.latMicro(phash)
      Derive.rects.foreach { case (pid, lo, la, hi, ha) =>
        if (lon >= lo && lon <= hi && lat >= la && lat <= ha) {
          val (n, p, s0) = expect.getOrElse(pid, (0L, 0L, 0L))
          expect(pid) = (n + 1, p + px.length, s0 + sum)
        }
      }
    }
    assert(got === expect.toMap)
    assert(got.nonEmpty, "fixture must cover at least one zone")
  }

  test("tileMosaic grid equals brute-force elementwise block sums per tile") {
    val got = Multimodal.tileMosaic(imgs, z = 4, grid = 8)
      .collect().map { r =>
        (r.getLong(r.fieldIndex("tile_x")), r.getLong(r.fieldIndex("tile_y"))) ->
          ((r.getLong(r.fieldIndex("n_images")), r.getLong(r.fieldIndex("total_pixels")),
            r.getSeq[Long](r.fieldIndex("mosaic")).toVector))
      }.toMap
    val expect = scala.collection.mutable.Map[(Long, Long), (Long, Long, Array[Long])]()
    imgs.select("bytes", "w", "h", "fmt", "phash").collect().foreach { r =>
      val (bytes, w, h, fmt, phash) = (r.getAs[Array[Byte]](0), r.getInt(1),
        r.getInt(2), r.getString(3), r.getLong(4))
      val px = ImageCodec.decode(bytes, fmt, w, h)
      val bw = w / 8; val bh = h / 8
      val sums = Array.tabulate(64) { k =>
        var acc = 0L
        for (y <- (k / 8) * bh until (k / 8 + 1) * bh;
             x <- (k % 8) * bw until (k % 8 + 1) * bw) acc += (px(y * w + x) & 0xff)
        acc
      }
      val lon = graft.core.PhashLoc.lonMicro(phash)
      val lat = graft.core.PhashLoc.latMicro(phash)
      val tx = Math.floorDiv((lon + 180000000L) * 16L, 360000000L)
      val ty = Math.floorDiv((90000000L - lat) * 16L, 180000000L)
      val (n, p, g) = expect.getOrElse((tx, ty), (0L, 0L, new Array[Long](64)))
      for (k <- 0 until 64) g(k) += sums(k)
      expect((tx, ty)) = (n + 1, p + px.length, g)
    }
    assert(got.keySet === expect.keySet)
    expect.foreach { case (t, (n, p, g)) =>
      assert(got(t)._1 === n, s"n_images at $t")
      assert(got(t)._2 === p, s"total_pixels at $t")
      assert(got(t)._3 === g.toVector, s"mosaic at $t")
    }
  }

  test("pyramidLevel: 2×2 spatial fold == brute force from the base mosaic") {
    val base = Multimodal.tileMosaic(imgs, z = 4, grid = 8)
    val got = Multimodal.pyramidLevel(base, grid = 8)
      .collect().map { r =>
        (r.getInt(r.fieldIndex("tile_z")), r.getLong(r.fieldIndex("tile_x")),
          r.getLong(r.fieldIndex("tile_y"))) ->
          ((r.getLong(r.fieldIndex("n_images")), r.getLong(r.fieldIndex("total_pixels")),
            r.getSeq[Long](r.fieldIndex("mosaic")).toVector))
      }.toMap
    // brute: every child grid scatters into its quadrant of the parent,
    // 2×2 child cells per parent cell
    val expect = scala.collection.mutable.Map[(Int, Long, Long), (Long, Long, Array[Long])]()
    base.collect().foreach { r =>
      val tx = r.getLong(r.fieldIndex("tile_x")); val ty = r.getLong(r.fieldIndex("tile_y"))
      val m = r.getSeq[Long](r.fieldIndex("mosaic"))
      val key = (r.getInt(r.fieldIndex("tile_z")) - 1, tx / 2, ty / 2)
      val (n, p, g) = expect.getOrElse(key, (0L, 0L, new Array[Long](64)))
      val oy = (ty % 2).toInt; val ox = (tx % 2).toInt
      for (i <- 0 until 8; j <- 0 until 8) {
        val pi = (oy * 8 + i) / 2; val pj = (ox * 8 + j) / 2
        g(pi * 8 + pj) += m(i * 8 + j)
      }
      expect(key) = (n + r.getLong(r.fieldIndex("n_images")),
        p + r.getLong(r.fieldIndex("total_pixels")), g)
    }
    assert(got.keySet === expect.keySet)
    expect.foreach { case (t, (n, p, g)) =>
      assert(got(t) === ((n, p, g.toVector)), s"parent tile $t")
    }
    // conservation down a 3-level chain: total mass is invariant under the
    // spatial fold, and each level has 4× fewer (or equal) tiles
    val pyr = Multimodal.tilePyramid(imgs, z = 4, zMin = 2, grid = 8)
      .groupBy("tile_z")
      .agg(sum("n_images").as("n"), count(lit(1)).as("tiles"),
        sum(aggregate(col("mosaic"), lit(0L), (a, x) => a + x)).as("mass"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(pyr.keySet === Set(2, 3, 4))
    assert(pyr(3)._1 === pyr(4)._1 && pyr(2)._1 === pyr(4)._1, "n_images conserved")
    assert(pyr(3)._3 === pyr(4)._3 && pyr(2)._3 === pyr(4)._3, "luma mass conserved")
    assert(pyr(3)._2 <= pyr(4)._2 && pyr(2)._2 <= pyr(3)._2, "tile count shrinks")
  }

  test("aspectBucket: nearest ratio by integer cross-multiplication, ties to lowest index") {
    import spark.implicits._
    val df = Seq(
      ("a", 64, 64),   // ratio 1 → bucket 0 (32,32)
      ("b", 100, 50),  // ratio 2 → bucket 1 (64,32)
      ("c", 90, 60),   // ratio 1.5 → bucket 3 (96,64)
      ("d", 50, 100),  // ratio .5 → bucket 2 (32,64)
      ("e", 70, 56))   // ratio 1.25 — equidistant from 1 and 1.5 → tie → bucket 0
      .toDF("image_id", "w", "h")
    val buckets = Seq((32, 32), (64, 32), (32, 64), (96, 64))
    val got = Multimodal.aspectBucket(df, buckets)
      .select("image_id", "bucket_id", "bucket_w", "bucket_h")
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got("a") === ((0, 32, 32)))
    assert(got("b") === ((1, 64, 32)))
    assert(got("c") === ((3, 96, 64)))
    assert(got("d") === ((2, 32, 64)))
    assert(got("e") === ((0, 32, 32)), "tie must break to the lowest bucket index")
  }

  test("vec_sum raises on mismatched lengths, ignores nulls, merges partials") {
    import spark.implicits._
    import graft.functions.VecSumAgg.vecSum
    // 200 rows over 8 partitions forces real partial merges
    val df = spark.range(0, 200, 1, 8)
      .select(array(col("id"), col("id") * 2, lit(1L)).as("v"))
    val got = df.agg(vecSum(col("v"))).collect()(0).getSeq[Long](0)
    val s = (0L until 200L).sum
    assert(got === Seq(s, 2 * s, 200L))
    // nulls are skipped, not zero-length-summed
    val withNull = Seq(Some(Array(1L, 2L)), None, Some(Array(3L, 4L)))
      .toDF("v")
    assert(withNull.agg(vecSum(col("v"))).collect()(0).getSeq[Long](0) === Seq(4L, 6L))
    val bad = Seq(Array(1L, 2L), Array(1L, 2L, 3L)).toDF("v")
    val e = intercept[Exception] { bad.agg(vecSum(col("v"))).collect() }
    assert(e.getMessage != null)
  }

  test("otsuThreshold: brute argmax parity on arbitrary grays, two-tone tie rule, single-tone -1") {
    import spark.implicits._
    def bruteOtsu(px: Array[Byte]): (Int, Long) = {
      val bins = new Array[Long](256)
      px.foreach(b => bins(b & 0xff) += 1L)
      val totW = bins.sum
      val totM = bins.indices.map(b => b.toLong * bins(b)).sum
      var bestT = -1; var bestA2 = BigInt(0); var bestD = BigInt(1)
      var w0 = 0L; var m0 = 0L
      for (t <- 1 until 256) {
        w0 += bins(t - 1); m0 += (t - 1).toLong * bins(t - 1)
        val w1 = totW - w0; val m1 = totM - m0
        if (w0 > 0 && w1 > 0) {
          val a = BigInt(m0) * w1 - BigInt(m1) * w0
          if (bestT == -1 || a * a * bestD > bestA2 * (BigInt(w0) * w1)) {
            bestT = t; bestA2 = a * a; bestD = BigInt(w0) * w1
          }
        }
      }
      (bestT, if (bestT <= 0) 0L else (0 until bestT).map(bins(_)).sum)
    }
    // arbitrary multi-tone ramps across codecs + generator two-tone images
    val w = 40; val h = 24
    val ramp = Array.tabulate(w * h)(i => ((i * 53 + (i / w) * 19) % 256).toByte)
    val rows = Seq(
      (ramp, w, h, "raw"),
      (ImageCodec.pixelsFromHash(0x123456789ABCDEF0L, 64, 64), 64, 64, "raw"),
      (ImageCodec.encodePng(ramp, w, h), w, h, "png"),
      (ImageCodec.encodeWebp(ImageCodec.pixelsFromHash(-1L, 32, 32), 32, 32), 32, 32, "webp"),
      (Array.fill(16 * 16)(77.toByte), 16, 16, "raw"))
    // recompute expectations per row from the raw pixels
    val exp = Seq(
      bruteOtsu(ramp),
      bruteOtsu(ImageCodec.pixelsFromHash(0x123456789ABCDEF0L, 64, 64)),
      bruteOtsu(ramp),
      bruteOtsu(ImageCodec.pixelsFromHash(-1L, 32, 32)),
      bruteOtsu(Array.fill(16 * 16)(77.toByte)))
    val gotRows = Multimodal.otsuThreshold(rows.toDF("bytes", "w", "h", "fmt"))
      .collect().map(r => (r.getInt(2), r.getLong(3)))
    assert(gotRows.toSeq === exp)
    // two-tone generator image: tie rule lands the smallest valid t = 51
    assert(exp(1)._1 === 51)
    // all-200 image (phash -1): single distinct luma -> -1
    assert(exp(3)._1 === -1)
    // constant image -> -1
    assert(exp(4) === ((-1, 0L)))
  }

  test("dHash: kernel matches the closed form on fixture images and brute pooling on arbitrary grays") {
    import spark.implicits._
    val rows = Seq(
      (0xAAAAAAAAAAAAAAAAL, 32, 32, "raw"), (0x00FF00FF00FF00FFL, 64, 32, "png"),
      (0x123456789ABCDEF0L, 64, 64, "webp"), (0L, 32, 64, "raw"), (-1L, 96, 32, "png"))
      .map { case (p, w, h, fmt) =>
        val px = ImageCodec.pixelsFromHash(p, w, h)
        val bytes = fmt match {
          case "png"  => ImageCodec.encodePng(px, w, h)
          case "webp" => ImageCodec.encodeWebp(px, w, h)
          case _      => px
        }
        (p, bytes, w, h, fmt)
      }
    val got = Multimodal.dHash(rows.toDF("phash", "bytes", "w", "h", "fmt"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    rows.foreach { case (p, _, w, h, _) =>
      var expect = 0L
      for (gy <- 0 until 8; gx <- 0 until 8) {
        val cur = (p >>> (gy * 8 + gx)) & 1L
        val nxt = (p >>> (gy * 8 + (gx + 1) % 8)) & 1L
        if (cur == 0L && nxt == 1L) expect |= 1L << (gy * 8 + gx)
      }
      assert(got((w, h)) === expect, s"closed form wrong for ${w}x$h")
    }
    // arbitrary gray ramp: brute 8x8 block-sum pooling reference
    val w = 40; val h = 24
    val px = Array.tabulate(w * h)(i => ((i * 37 + (i / w) * 11) % 251).toByte)
    val sums = Array.fill(64)(0L)
    for (y <- 0 until h; x <- 0 until w)
      sums((y / (h / 8)) * 8 + x / (w / 8)) += px(y * w + x) & 0xff
    var expect = 0L
    for (gy <- 0 until 8; gx <- 0 until 8)
      if (sums(gy * 8 + (gx + 1) % 8) > sums(gy * 8 + gx))
        expect |= 1L << (gy * 8 + gx)
    val gotRamp = Multimodal.dHash(Seq((px, w, h, "raw")).toDF("bytes", "w", "h", "fmt"))
      .collect()(0).getLong(2)
    assert(gotRamp === expect)
    // global brightness shift flips no dHash bit (gradient-sign invariance)
    val brighter = px.map(b => ((b & 0xff) + 5).toByte) // max 250+5, no clamp
    val gotBright = Multimodal.dHash(
        Seq((brighter, w, h, "raw")).toDF("bytes", "w", "h", "fmt"))
      .collect()(0).getLong(2)
    assert(gotBright === expect, "uniform brightness shift must not flip dHash bits")
  }

  test("features and dHash reject an image under 8 px by name, not by a divide or a NaN") {
    import spark.implicits._
    val tiny = Seq(("img7", Array.fill(7 * 7)(77.toByte), 7, 7, "raw"))
      .toDF("image_id", "bytes", "w", "h", "fmt")
    val ef = intercept[Exception] { Multimodal.features(tiny).collect() }
    assert(ef.getMessage.contains("dims 7x7 under the 8x8 pooling grid"))
    val ed = intercept[Exception] { Multimodal.dHash(tiny).collect() }
    assert(ed.getMessage.contains("dims 7x7 under the 8x8 pooling grid"))
  }

  test("lumaHistogram: kernel matches brute per-pixel histogram and the popcount rule across formats") {
    import spark.implicits._
    val rows = Seq(
      (0xAAAAAAAAAAAAAAAAL, 32, 32, "raw"), (0x00FF00FF00FF00FFL, 64, 32, "png"),
      (0x0000000000000001L, 96, 64, "webp"), (0x123456789ABCDEF0L, 64, 64, "raw"),
      (0L, 32, 64, "png"), (-1L, 96, 32, "webp"))
      .map { case (p, w, h, fmt) =>
        val px = ImageCodec.pixelsFromHash(p, w, h)
        val bytes = fmt match {
          case "png"  => ImageCodec.encodePng(px, w, h)
          case "webp" => ImageCodec.encodeWebp(px, w, h)
          case _      => px
        }
        (p, bytes, w, h, fmt)
      }
    val got = Multimodal.lumaHistogram(rows.toDF("phash", "bytes", "w", "h", "fmt"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5), r.getLong(6))))
      .toMap
    rows.foreach { case (p, _, w, h, _) =>
      // brute per-pixel 16-bin histogram as the independent check
      val px = ImageCodec.pixelsFromHash(p, w, h)
      val bins = new Array[Long](16)
      px.foreach(b => bins((b & 0xff) >> 4) += 1L)
      val mx = bins.max
      val coll = bins.map(c => c * c).sum
      val nz = bins.count(_ > 0)
      val expect = (w.toLong * h, mx, coll, nz, mx * 1000000L / (w.toLong * h))
      assert(got((w, h)) === expect, s"kernel wrong for ${w}x$h")
      // closed-form popcount rule (the oracle's derivation)
      val bpx = (w / 8).toLong * (h / 8)
      val pc = java.lang.Long.bitCount(p).toLong
      val (c50, c200) = ((64L - pc) * bpx, pc * bpx)
      assert(coll === c50 * c50 + c200 * c200, s"rule wrong for phash $p")
      assert(mx === math.max(c50, c200))
      assert(nz === (if (c50 > 0) 1 else 0) + (if (c200 > 0) 1 else 0))
    }
  }

  test("rasterTv: exact total variation matches the bit->block rule across formats and dims") {
    import spark.implicits._
    // a spread of phash patterns: checkerboard-ish, stripes, sparse, dense
    val rows = Seq(
      (0xAAAAAAAAAAAAAAAAL, 32, 32, "raw"), (0x00FF00FF00FF00FFL, 64, 32, "png"),
      (0x0000000000000001L, 96, 64, "webp"), (0x123456789ABCDEF0L, 64, 64, "raw"),
      (0L, 32, 64, "png"), (-1L, 96, 32, "webp"))
      .map { case (p, w, h, fmt) =>
        val px = ImageCodec.pixelsFromHash(p, w, h)
        val bytes = fmt match {
          case "png"  => ImageCodec.encodePng(px, w, h)
          case "webp" => ImageCodec.encodeWebp(px, w, h)
          case _      => px
        }
        (p, bytes, w, h, fmt)
      }
    val got = Multimodal.rasterTv(rows.toDF("phash", "bytes", "w", "h", "fmt"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    // brute per-pixel TV vs the rule formula, per row
    rows.foreach { case (p, _, w, h, _) =>
      val hd = java.lang.Long.bitCount((p ^ (p >>> 1)) & 0x7f7f7f7f7f7f7f7fL)
      val vd = java.lang.Long.bitCount((p ^ (p >>> 8)) & 0x00ffffffffffffffL)
      val expect = 150L * (h / 8) * hd + 150L * (w / 8) * vd
      // brute force directly on the pixels as an independent check
      val px = ImageCodec.pixelsFromHash(p, w, h)
      var tv = 0L
      for (y <- 0 until h; x <- 0 until w - 1)
        tv += math.abs((px(y * w + x + 1) & 0xff) - (px(y * w + x) & 0xff))
      for (y <- 0 until h - 1; x <- 0 until w)
        tv += math.abs((px((y + 1) * w + x) & 0xff) - (px(y * w + x) & 0xff))
      assert(tv === expect, s"rule formula wrong for phash $p ${w}x$h")
      assert(got((w, h)) === expect, s"kernel wrong for ${w}x$h")
    }
  }

  /** Independent 4-connected component count over a phash bit grid. */
  private def bitBlobs(bits: Long): Int = {
    def set(c: Int) = ((bits >>> c) & 1L) == 1L
    val seen = scala.collection.mutable.Set[Int]()
    var cnt = 0
    for (s <- 0 until 64 if set(s) && !seen(s)) {
      cnt += 1
      val q = scala.collection.mutable.Queue(s)
      while (q.nonEmpty) {
        val c = q.dequeue()
        if (!seen(c) && set(c)) {
          seen += c
          val (x, y) = (c % 8, c / 8)
          if (x < 7) q += c + 1; if (x > 0) q += c - 1
          if (y < 7) q += c + 8; if (y > 0) q += c - 8
        }
      }
    }
    cnt
  }

  test("objectCount: hand patterns across formats; fixture parity vs phash-bit CC") {
    import spark.implicits._
    // stripes (4 blobs each way), checkerboard (32 isolated), empty, full
    val rows = Seq(
      (0xAAAAAAAAAAAAAAAAL, 32, 32, "raw", 4), (0x00FF00FF00FF00FFL, 64, 32, "png", 4),
      (0x55AA55AA55AA55AAL, 96, 64, "webp", 32), (0L, 32, 64, "png", 0),
      (-1L, 96, 32, "webp", 1), (0x0000000000000001L, 64, 64, "raw", 1))
      .map { case (p, w, h, fmt, want) =>
        val px = ImageCodec.pixelsFromHash(p, w, h)
        val bytes = fmt match {
          case "png"  => ImageCodec.encodePng(px, w, h)
          case "webp" => ImageCodec.encodeWebp(px, w, h)
          case _      => px
        }
        (p, bytes, w, h, fmt, want)
      }
    val got = Multimodal.objectCount(
        rows.map(r => (r._1, r._2, r._3, r._4, r._5)).toDF("phash", "bytes", "w", "h", "fmt"))
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    rows.foreach { case (p, _, _, _, _, want) =>
      assert(got(p) === want && bitBlobs(p) === want, s"phash $p")
    }
    // fixture corpus: kernel count == independent bit-grid flood fill, all fmts
    val fx = Multimodal.objectCount(imgs).collect()
    assert(fx.length === 500)
    fx.foreach(r => assert(r.getInt(3) === bitBlobs(r.getLong(0))))
  }

  test("objectCount: integer mean-pool floor decides the mask at the threshold") {
    import spark.implicits._
    // 32x32 zeros; block cells are 4x4 = 16 px. Block (0,0) gets k pixels of
    // 255: k=8 → mean 127 (floor) < 128 → dark; k=9 → 143 → bright.
    // Block (7,7) all 128 → mean exactly 128 → bright (>= is inclusive).
    def img(k: Int): Array[Byte] = {
      val px = new Array[Byte](32 * 32)
      for (i <- 0 until k) px((i / 4) * 32 + i % 4) = 255.toByte
      for (y <- 28 until 32; x <- 28 until 32) px(y * 32 + x) = 128.toByte
      px
    }
    val got = Multimodal.objectCount(
        Seq((8L, img(8), 32, 32, "raw"), (9L, img(9), 32, 32, "raw"))
          .toDF("phash", "bytes", "w", "h", "fmt"))
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(got === Map(8L -> 1, 9L -> 2))
  }

  test("thumbnails: real PNG artifacts, roundtrip-exact, format-independent") {
    import spark.implicits._
    val p = 0x123456789ABCDEF0L
    val rows = Seq(("a", 32, 32, "raw"), ("b", 64, 32, "png"), ("c", 96, 64, "webp"))
      .map { case (id, w, h, fmt) =>
        val px = ImageCodec.pixelsFromHash(p, w, h)
        val bytes = fmt match {
          case "png"  => ImageCodec.encodePng(px, w, h)
          case "webp" => ImageCodec.encodeWebp(px, w, h)
          case _      => px
        }
        (id, bytes, w, h, fmt)
      }
    val got = Multimodal.thumbnails(
        rows.toDF("image_id", "bytes", "w", "h", "fmt"), 16, 16)
      .collect().map(r => r.getString(0) ->
        ((r.getInt(1), r.getInt(2), r.getAs[Array[Byte]](3), r.getInt(4)))).toMap
    rows.foreach { case (id, _, w, h, _) =>
      val px = ImageCodec.pixelsFromHash(p, w, h)
      val want = new Array[Byte](256)
      for (y <- 0 until 16; x <- 0 until 16)
        want(y * 16 + x) = px((y * h / 16) * w + x * w / 16)
      val (gw, gh, png, len) = got(id)
      assert(gw === w && gh === h && len === png.length)
      // byte-identical to encoding the reference resize directly...
      assert(png.sameElements(ImageCodec.encodePng(want, 16, 16)), id)
      // ...and the PNG is a real decodable artifact that roundtrips exactly
      assert(graft.core.Png.decodeGray(png).exists(_._3.sameElements(want)), id)
    }
    // 32x32 → 16x16 halves each 4px block to 2px: block VALUES survive, so
    // the thumbnail's 8x8 block structure still encodes the phash bits
    val (_, _, png32, _) = got("a")
    val tpx = graft.core.Png.decodeGray(png32).get._3
    for (k <- 0 until 64) {
      val v = if (((p >>> k) & 1L) == 1L) 200 else 50
      assert((tpx((k / 8) * 2 * 16 + (k % 8) * 2) & 0xff) === v, s"bit $k")
    }
  }

  /** Direct-definition 2D WHT of a phash's 200/50 block grid. */
  private def bruteWht(p: Long): (Long, Long, Long) = {
    def g(i: Int) = if (((p >>> i) & 1L) == 1L) 200L else 50L
    val seq = Array(0, 7, 3, 4, 1, 6, 2, 5)
    var dc = 0L; var lo = 0L; var hi = 0L
    for (u <- 0 until 8; x <- 0 until 8) {
      val c = (for (gy <- 0 until 8; gx <- 0 until 8) yield {
        val sgn = java.lang.Long.bitCount((u & gy) | ((x & gx) << 8))
        if (sgn % 2 == 0) g(gy * 8 + gx) else -g(gy * 8 + gx)
      }).sum
      val e = math.abs(c)
      if (u == 0 && x == 0) dc += e
      else if (seq(u) + seq(x) < 8) lo += e else hi += e
    }
    (dc, lo, hi)
  }

  test("whtEnergy: flat = all-DC, checkerboard = all-HIGH, brute parity across codecs") {
    import spark.implicits._
    val rows = Seq((0L, 32, 32, "raw"), (0x55AA55AA55AA55AAL, 64, 32, "png"),
      (0x123456789ABCDEF0L, 96, 64, "webp"), (-1L, 64, 64, "raw"))
      .map { case (p, w, h, fmt) =>
        val px = ImageCodec.pixelsFromHash(p, w, h)
        val bytes = fmt match {
          case "png"  => ImageCodec.encodePng(px, w, h)
          case "webp" => ImageCodec.encodeWebp(px, w, h)
          case _      => px
        }
        (p, bytes, w, h, fmt)
      }
    val got = Multimodal.whtEnergy(
        rows.map(r => (r._1, r._2, r._3, r._4, r._5))
          .toDF("phash", "bytes", "w", "h", "fmt"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // flat: DC = 64·50, zero AC; full: DC = 64·200
    assert(got(0L) === ((3200L, 0L, 0L)))
    assert(got(-1L) === ((12800L, 0L, 0L)))
    // checkerboard: DC = 64·125, ALL remaining energy in the (1,1)
    // sequency-14 coefficient = 64·75
    assert(got(0x55AA55AA55AA55AAL) === ((8000L, 0L, 4800L)))
    rows.foreach { case (p, _, _, _, _) => assert(got(p) === bruteWht(p), p) }
    // fixture corpus parity (all formats, both dims)
    Multimodal.whtEnergy(imgs).collect().foreach { r =>
      assert(((r.getLong(1), r.getLong(2), r.getLong(3)))
        === bruteWht(r.getLong(0)))
    }
  }

  test("bmp and gif decode are real and lossless for gray fixtures") {
    val px = ImageCodec.pixelsFromHash(0xBEEF_CAFEL, 64, 64)
    assert(ImageCodec.decode(ImageCodec.encodeBmp(px, 64, 64), "bmp", 64, 64)
      .sameElements(px))
    // gif: encode via ImageIO directly (256-gray palette is lossless)
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, 64, 64, px)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "gif", bos)
    assert(ImageCodec.decode(bos.toByteArray, "gif", 64, 64).sameElements(px))
  }
}
