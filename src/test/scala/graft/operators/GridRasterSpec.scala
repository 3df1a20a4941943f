package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** idwGrid / heatmap vs brute-force integer references (full-grid scan, same
  * exact int64 arithmetic) plus hand cases: center-dominant weights, kernel
  * mass at the world corner, and candidate-bound tightness at the radius.
  */
class GridRasterSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  private val SCALE = 1000000000000L

  /** Brute IDW: scan the whole grid, all points, same integer chain. */
  private def bruteIdw(pts: Seq[(Long, Long, Long)], g: Long, r: Long)
      : Map[(Long, Long), (Long, Long)] = {
    val cells = for {
      cx <- 0L until 360000000L / g; cy <- 0L until 180000000L / g
      inR = pts.flatMap { case (lon, lat, v) =>
        val dx = (lon + 180000000L) - (cx * g + g / 2)
        val dy = (lat + 90000000L) - (cy * g + g / 2)
        val d2 = dx * dx + dy * dy
        if (d2 <= r * r) Some((SCALE / (d2 / 10000L + 1), v)) else None
      }
      if inR.nonEmpty
    } yield (cx, cy) -> ((inR.size.toLong,
      inR.map(p => p._1 * p._2).sum / inR.map(_._1).sum))
    cells.toMap
  }

  test("idwGrid: hand case — point on a center dominates; exact weighted div") {
    // g=1000000 (centers at wx=cx*1e6+5e5): point A exactly on center of
    // cell (180,90), point B at distance 1000 from the same center
    val ptA = (500000L, 500000L, 100L)             // world-shifted (180.5e6, 90.5e6)
    val ptB = (501000L, 500000L, 900L)
    val got = GridRaster.idwGrid(Seq(ptA, ptB).toDF("lon", "lat", "v"),
        col("lon"), col("lat"), col("v"), cellMicro = 1000000L,
        radiusMicro = 400000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val wA = SCALE                  // d2=0 → SCALE div 1
    val wB = SCALE / (1000L * 1000L / 10000L + 1L)
    assert(got((180L, 90L)) === ((2L, (wA * 100L + wB * 900L) / (wA + wB))))
    // the on-center point dominates: value pulled close to A's 100
    assert(got((180L, 90L))._2 < 110L)
  }

  test("idwGrid: brute parity on a random scatter (bounds exact at the radius)") {
    val rnd = new scala.util.Random(11)
    val pts = (0 until 200).map { _ =>
      (rnd.nextLong(40000000L) - 20000000L,
        rnd.nextLong(30000000L) - 15000000L, rnd.nextLong(1000L))
    }
    val g = 4000000L; val r = 5000000L
    val got = GridRaster.idwGrid(pts.toDF("lon", "lat", "v"),
        col("lon"), col("lat"), col("v"), g, r)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        ((x.getLong(2), x.getLong(3)))).toMap
    assert(got === bruteIdw(pts, g, r) && got.nonEmpty)
  }

  test("heatmap: single interior point spreads the binomial kernel; corner clips") {
    val g = 1000000L
    // interior point in cell (200, 100); corner point in cell (0, 0)
    val pts = Seq((20500000L, 10500000L), (-179500000L, -89500000L))
    val got = GridRaster.heatmap(pts.toDF("lon", "lat"), col("lon"), col("lat"), g)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // interior: full 3x3, center raw=1 smoothed=4, edges 2/1
    assert(got((200L, 100L)) === ((1L, 4L)))
    assert(got((199L, 100L)) === ((0L, 2L)) && got((200L, 99L)) === ((0L, 2L)))
    assert(got((199L, 99L)) === ((0L, 1L)) && got((201L, 101L)) === ((0L, 1L)))
    // corner (0,0): only the 4 in-world neighbors exist
    assert(got((0L, 0L)) === ((1L, 4L)) && got((1L, 0L)) === ((0L, 2L)))
    assert(got((0L, 1L)) === ((0L, 2L)) && got((1L, 1L)) === ((0L, 1L)))
    assert(!got.contains((-1L, 0L)) && !got.contains((0L, -1L)))
    assert(got.size === 9 + 4)
  }

  test("heatmap: brute parity on a random scatter") {
    val rnd = new scala.util.Random(13)
    val pts = (0 until 500).map { _ =>
      (rnd.nextLong(30000000L) - 15000000L, rnd.nextLong(20000000L) - 10000000L)
    }
    val g = 2000000L
    val got = GridRaster.heatmap(pts.toDF("lon", "lat"), col("lon"), col("lat"), g)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val counts = pts.groupBy(p =>
        ((p._1 + 180000000L) / g, (p._2 + 90000000L) / g))
      .map { case (k, v) => k -> v.size.toLong }
    val kernel = Seq((-1, -1, 1L), (0, -1, 2L), (1, -1, 1L), (-1, 0, 2L),
      (0, 0, 4L), (1, 0, 2L), (-1, 1, 1L), (0, 1, 2L), (1, 1, 1L))
    val want = counts.toSeq.flatMap { case ((px, py), n) =>
      kernel.map { case (ox, oy, kw) => ((px + ox, py + oy), (if (ox == 0 && oy == 0) n else 0L, n * kw)) }
    }.groupBy(_._1).map { case (k, vs) =>
      k -> ((vs.map(_._2._1).sum, vs.map(_._2._2).sum))
    }
    assert(got === want && got.nonEmpty)
  }

  /** In-JVM polygonize reference: per-cell counts → mask → 4-connected
    * flood fill, min-key region ids.
    */
  private def brutePolygonize(pts: Seq[(Long, Long)], g: Long, minCount: Long)
      : Set[(Long, Long, Long, Long, Long, Long, Long, Long)] = {
    val counts = pts.groupBy(p => ((p._1 + 180000000L) / g, (p._2 + 90000000L) / g))
      .map { case (k, v) => k -> v.size.toLong }
    val mask = counts.filter(_._2 >= minCount).keySet
    val seen = scala.collection.mutable.Set[(Long, Long)]()
    val out = scala.collection.mutable.Set[(Long, Long, Long, Long, Long, Long, Long, Long)]()
    for (start <- mask if !seen(start)) {
      val region = scala.collection.mutable.Set[(Long, Long)]()
      val stack = scala.collection.mutable.Stack(start)
      while (stack.nonEmpty) {
        val c = stack.pop()
        if (!region(c) && mask(c)) {
          region += c
          stack.push((c._1 + 1, c._2), (c._1 - 1, c._2), (c._1, c._2 + 1), (c._1, c._2 - 1))
        }
      }
      seen ++= region
      val minKey = region.map { case (x, y) => (x, y) }.min
      out += ((minKey._1, minKey._2, region.size.toLong,
        region.toSeq.map(counts).sum,
        region.map(_._1).min, region.map(_._1).max,
        region.map(_._2).min, region.map(_._2).max))
    }
    out.toSet
  }

  private def runPolygonize(pts: Seq[(Long, Long)], g: Long, minCount: Long)
      : Set[(Long, Long, Long, Long, Long, Long, Long, Long)] =
    GridRaster.polygonize(pts.toDF("lon", "lat"), col("lon"), col("lat"), g, minCount)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSet

  test("polygonize: hand case — L-region, diagonal NOT connected, threshold bites") {
    val g = 1000000L
    def cell(px: Long, py: Long, n: Int): Seq[(Long, Long)] =
      Seq.fill(n)((px * g - 180000000L + g / 2, py * g - 90000000L + g / 2))
    val pts =
      cell(10, 10, 2) ++ cell(11, 10, 2) ++ cell(11, 11, 3) ++ // L-region of 3 cells
      cell(12, 12, 2) ++   // touches (11,11) only DIAGONALLY -> own region
      cell(20, 20, 1) ++   // below threshold -> not in mask
      cell(30, 30, 5)      // isolated single-cell region
    val got = runPolygonize(pts, g, minCount = 2)
    assert(got === brutePolygonize(pts, g, 2))
    assert(got === Set(
      (10L, 10L, 3L, 7L, 10L, 11L, 10L, 11L),
      (12L, 12L, 1L, 2L, 12L, 12L, 12L, 12L),
      (30L, 30L, 1L, 5L, 30L, 30L, 30L, 30L)))
  }

  test("polygonize: brute parity on a clustered random scatter") {
    val rnd = new scala.util.Random(7)
    // clustered draws so the mask forms multi-cell blobs, not confetti
    val centers = (0 until 12).map { _ =>
      (rnd.nextLong(40000000L) - 20000000L, rnd.nextLong(30000000L) - 15000000L)
    }
    val pts = centers.flatMap { case (cx, cy) =>
      (0 until 120).map { _ =>
        (cx + rnd.nextLong(6000000L) - 3000000L, cy + rnd.nextLong(6000000L) - 3000000L)
      }
    }
    val got = runPolygonize(pts, 1000000L, minCount = 3)
    assert(got === brutePolygonize(pts, 1000000L, 3))
    assert(got.exists(_._3 > 1), "scatter should produce at least one multi-cell region")
  }

  private def runMorans(pts: Seq[(Long, Long)], g: Long): (Long, Long, Long, Long) = {
    val r = GridRaster.moransI(pts.toDF("lon", "lat"), col("lon"), col("lat"), g)
      .collect()
    assert(r.length === 1)
    (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2), r(0).getLong(3))
  }

  /** Brute Moran surface: collect the occupied-cell raster, O(cells²) rook
    * adjacency scan, same N-scaled integer deviations uᵢ = N·xᵢ − S. */
  private def bruteMorans(pts: Seq[(Long, Long)], g: Long): (Long, Long, Long, Long) = {
    val cells = pts.groupBy(p => ((p._1 + 180000000L) / g, (p._2 + 90000000L) / g))
      .map { case (k, v) => k -> v.size.toLong }
    val nc = cells.size.toLong
    val s = cells.values.sum
    val u = cells.map { case (k, n) => k -> (nc * n - s) }
    val pairs = for {
      ((ax, ay), ua) <- u.toSeq; ((bx, by), ub) <- u.toSeq
      if (bx == ax + 1 && by == ay) || (bx == ax && by == ay + 1)
    } yield ua * ub
    (nc, 2L * pairs.size, 2L * pairs.sum, u.values.map(x => x * x).sum)
  }

  test("moransI: checkerboard disperses (I = -1), twin blobs attract (I = +1)") {
    val g = 1000000L
    def at(px: Long, py: Long, n: Int): Seq[(Long, Long)] =
      Seq.fill(n)((px * g - 180000000L + g / 2, py * g - 90000000L + g / 2))
    // 2×2 checkerboard of counts 1/3: u = ∓4, every rook edge joins opposite
    // signs → I = (N/W)·(num/den) = (4/8)·(−128/64) = −1 (perfect dispersion)
    val chk = at(10, 10, 1) ++ at(11, 10, 3) ++ at(10, 11, 3) ++ at(11, 11, 1)
    assert(runMorans(chk, g) === ((4L, 8L, -128L, 64L)))
    assert(bruteMorans(chk, g) === ((4L, 8L, -128L, 64L)))
    // two far-apart uniform blobs: only hi-hi and lo-lo edges → I = +1
    val blobs = at(10, 10, 5) ++ at(11, 10, 5) ++ at(30, 30, 1) ++ at(31, 30, 1)
    assert(runMorans(blobs, g) === ((4L, 4L, 256L, 256L)))
    // isolated cells, unequal counts: W = 0 and num coalesces to 0 while the
    // denominator still reports the variance surface
    val iso = at(10, 10, 1) ++ at(20, 20, 2) ++ at(30, 30, 3)
    assert(runMorans(iso, g) === ((3L, 0L, 0L, 18L)))
  }

  test("moransI: brute parity on clustered scatter; density gradients attract") {
    val rnd = new scala.util.Random(17)
    val centers = (0 until 10).map { _ =>
      (rnd.nextLong(60000000L) - 30000000L, rnd.nextLong(40000000L) - 20000000L)
    }
    // triangular (sum-of-uniforms) jitter → central density peak per blob,
    // so occupied-cell counts form a gradient and I must come out positive
    val pts = centers.flatMap { case (cx, cy) =>
      (0 until 200).map { _ =>
        (cx + rnd.nextLong(2500000L) + rnd.nextLong(2500000L) - 2500000L,
          cy + rnd.nextLong(2500000L) + rnd.nextLong(2500000L) - 2500000L)
      }
    }
    val got = runMorans(pts, 1000000L)
    assert(got === bruteMorans(pts, 1000000L))
    assert(got._3 > 0L && got._4 > 0L, "clustered fixture must autocorrelate positively")
  }

  private def runLocalMorans(pts: Seq[(Long, Long)], g: Long)
      : Map[(Long, Long), (Long, Long, Long, Long)] =
    GridRaster.localMorans(pts.toDF("lon", "lat"), col("lon"), col("lat"), g)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap

  private def bruteLocalMorans(pts: Seq[(Long, Long)], g: Long)
      : Map[(Long, Long), (Long, Long, Long, Long)] = {
    val cells = pts.groupBy(p => ((p._1 + 180000000L) / g, (p._2 + 90000000L) / g))
      .map { case (k, v) => k -> v.size.toLong }
    val nc = cells.size.toLong; val s = cells.values.sum
    val u = cells.map { case (k, n) => k -> (nc * n - s) }
    u.map { case ((x, y), ui) =>
      val nbrs = Seq((x + 1, y), (x - 1, y), (x, y + 1), (x, y - 1)).flatMap(u.get)
      (x, y) -> ((cells((x, y)), ui, nbrs.sum, nbrs.size.toLong))
    }
  }

  test("localMorans: checkerboard quadrants are all outliers; isolated cell keeps a row") {
    val g = 1000000L
    def at(px: Long, py: Long, n: Int): Seq[(Long, Long)] =
      Seq.fill(n)((px * g - 180000000L + g / 2, py * g - 90000000L + g / 2))
    // q93's checkerboard: u = ∓4; every cell has 2 rook neighbors of the
    // opposite sign → u·nbr < 0 everywhere (HL/LH spatial outliers)
    val chk = at(10, 10, 1) ++ at(11, 10, 3) ++ at(10, 11, 3) ++ at(11, 11, 1)
    val got = runLocalMorans(chk, g)
    assert(got === Map(
      (10L, 10L) -> ((1L, -4L, 8L, 2L)), (11L, 10L) -> ((3L, 4L, -8L, 2L)),
      (10L, 11L) -> ((3L, 4L, -8L, 2L)), (11L, 11L) -> ((1L, -4L, 8L, 2L))))
    assert(got.forall { case (_, (_, ui, nb, _)) => ui * nb < 0 })
    // isolated unequal cells: every row survives with nbr_cnt = 0
    val iso = at(10, 10, 1) ++ at(20, 20, 2) ++ at(30, 30, 3)
    assert(runLocalMorans(iso, g) === Map(
      (10L, 10L) -> ((1L, -3L, 0L, 0L)), (20L, 20L) -> ((2L, 0L, 0L, 0L)),
      (30L, 30L) -> ((3L, 3L, 0L, 0L))))
  }

  test("localMorans: brute parity; locals sum exactly to the global statistic") {
    val rnd = new scala.util.Random(19)
    val centers = (0 until 8).map { _ =>
      (rnd.nextLong(60000000L) - 30000000L, rnd.nextLong(40000000L) - 20000000L)
    }
    val pts = centers.flatMap { case (cx, cy) =>
      (0 until 150).map { _ =>
        (cx + rnd.nextLong(2500000L) + rnd.nextLong(2500000L) - 2500000L,
          cy + rnd.nextLong(2500000L) + rnd.nextLong(2500000L) - 2500000L)
      }
    }
    val got = runLocalMorans(pts, 1000000L)
    assert(got === bruteLocalMorans(pts, 1000000L))
    // LISA decomposition: Σᵢ uᵢ·nbrᵢ = global num_scaled, Σᵢ nbr_cnt = W
    val (_, w, num, _) = runMorans(pts, 1000000L)
    assert(got.values.map { case (_, ui, nb, _) => ui * nb }.sum === num)
    assert(got.values.map(_._4).sum === w)
  }

  private def runGetis(pts: Seq[(Long, Long)], g: Long)
      : Map[(Long, Long), Seq[Long]] =
    GridRaster.getisOrd(pts.toDF("lon", "lat"), col("lon"), col("lat"), g)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (2 to 7).map(r.getLong).toList).toMap

  private def bruteGetis(pts: Seq[(Long, Long)], g: Long)
      : Map[(Long, Long), Seq[Long]] = {
    val cells = pts.groupBy(p => ((p._1 + 180000000L) / g, (p._2 + 90000000L) / g))
      .map { case (k, v) => k -> v.size.toLong }
    val nc = cells.size.toLong; val s = cells.values.sum
    val sq = cells.values.map(v => v * v).sum
    cells.map { case ((x, y), n) =>
      val hood = cells.filter { case ((bx, by), _) =>
        math.abs(bx - x) <= 1 && math.abs(by - y) <= 1 }
      (x, y) -> List(n, hood.values.sum, hood.size.toLong, nc, s, sq)
    }
  }

  test("getisOrd: queen+self hand case — 2×2 block all-mutual; isolated cell self-only") {
    val g = 1000000L
    def at(px: Long, py: Long, n: Int): Seq[(Long, Long)] =
      Seq.fill(n)((px * g - 180000000L + g / 2, py * g - 90000000L + g / 2))
    val pts = at(10, 10, 1) ++ at(11, 10, 3) ++ at(10, 11, 3) ++ at(11, 11, 1) ++
      at(30, 30, 5)
    val got = runGetis(pts, g)
    // the 2×2 block is queen-complete: every cell's hood is the whole block
    assert(got((10L, 10L)) === List(1L, 8L, 4L, 5L, 13L, 45L))
    assert(got((11L, 10L)) === List(3L, 8L, 4L, 5L, 13L, 45L))
    // diagonal-only neighbors count (queen, unlike the rook moran weights)
    assert(got((30L, 30L)) === List(5L, 5L, 1L, 5L, 13L, 45L))
    assert(got === bruteGetis(pts, g))
  }

  test("getisOrd: brute parity on the clustered scatter; hoods cover the blobs") {
    val rnd = new scala.util.Random(31)
    val centers = (0 until 8).map { _ =>
      (rnd.nextLong(60000000L) - 30000000L, rnd.nextLong(40000000L) - 20000000L)
    }
    val pts = centers.flatMap { case (cx, cy) =>
      (0 until 150).map { _ =>
        (cx + rnd.nextLong(2500000L) + rnd.nextLong(2500000L) - 2500000L,
          cy + rnd.nextLong(2500000L) + rnd.nextLong(2500000L) - 2500000L)
      }
    }
    val got = runGetis(pts, 1000000L)
    assert(got === bruteGetis(pts, 1000000L))
    assert(got.values.exists(_(2) == 9L), "interior cells must see full 3×3 hoods")
  }

  private def runBoundary(pts: Seq[(Long, Long)], g: Long, minC: Long)
      : Set[(Long, Long, Long, Long, Long, Long, Long)] =
    GridRaster.maskBoundary(pts.toDF("lon", "lat"), col("lon"), col("lat"),
        g, minC)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet

  private def bruteBoundary(pts: Seq[(Long, Long)], g: Long, minC: Long)
      : Set[(Long, Long, Long, Long, Long, Long, Long)] = {
    val mask = pts.groupBy(p => ((p._1 + 180000000L) / g, (p._2 + 90000000L) / g))
      .filter(_._2.size >= minC).keySet
    mask.flatMap { case (x, y) =>
      val x0 = x * g - 180000000L; val y0 = y * g - 90000000L
      Seq((0L, (-1L, 0L), (x0, y0, x0, y0 + g)),
        (1L, (1L, 0L), (x0 + g, y0, x0 + g, y0 + g)),
        (2L, (0L, -1L), (x0, y0, x0 + g, y0)),
        (3L, (0L, 1L), (x0, y0 + g, x0 + g, y0 + g)))
        .collect { case (s, (dx, dy), (a, b, c, d))
          if !mask((x + dx, y + dy)) => (x, y, s, a, b, c, d) }
    }
  }

  test("maskBoundary: lone cell = 4 edges, shared edges vanish, donut keeps its hole") {
    val g = 1000000L
    def at(px: Long, py: Long, n: Int): Seq[(Long, Long)] =
      Seq.fill(n)((px * g - 180000000L + g / 2, py * g - 90000000L + g / 2))
    // lone cell
    val lone = runBoundary(at(5, 5, 2), g, 2)
    assert(lone.size === 4 && lone === bruteBoundary(at(5, 5, 2), g, 2))
    // 2×1 block: 6 edges, the shared vertical edge absent from both cells
    val duo = at(5, 5, 2) ++ at(6, 5, 2)
    val duoGot = runBoundary(duo, g, 2)
    assert(duoGot.size === 6 && duoGot === bruteBoundary(duo, g, 2))
    assert(!duoGot.exists(e => e._1 == 5 && e._3 == 1) &&
      !duoGot.exists(e => e._1 == 6 && e._3 == 0))
    // 3×3 ring with a hole: 12 outer + 4 inner edges; threshold drops the
    // under-count cell and opens the ring
    val ring = (for (x <- 10L to 12L; y <- 10L to 12L if (x, y) != ((11L, 11L)))
      yield at(x, y, 3)).flatten ++ at(11, 11, 2) // hole cell BELOW threshold
    val rg = runBoundary(ring, g, 3)
    assert(rg.size === 16 && rg === bruteBoundary(ring, g, 3))
  }

  test("maskBoundary: brute parity on the clustered scatter; edges pair with Sobel rims") {
    val rnd = new scala.util.Random(79)
    val centers = (0 until 6).map { _ =>
      (rnd.nextLong(60000000L) - 30000000L, rnd.nextLong(40000000L) - 20000000L)
    }
    val pts = centers.flatMap { case (cx, cy) =>
      (0 until 150).map { _ =>
        (cx + rnd.nextLong(2500000L) + rnd.nextLong(2500000L) - 2500000L,
          cy + rnd.nextLong(2500000L) + rnd.nextLong(2500000L) - 2500000L)
      }
    }
    for (minC <- Seq(1L, 3L))
      assert(runBoundary(pts, 1000000L, minC)
        === bruteBoundary(pts, 1000000L, minC), s"minC=$minC")
  }

  private def runSobel(pts: Seq[(Long, Long)], g: Long)
      : Map[(Long, Long), (Long, Long, Long, Long)] =
    GridRaster.sobel(pts.toDF("lon", "lat"), col("lon"), col("lat"), g)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap

  private def bruteSobel(pts: Seq[(Long, Long)], g: Long)
      : Map[(Long, Long), (Long, Long, Long, Long)] = {
    val counts = pts.groupBy(p => ((p._1 + 180000000L) / g, (p._2 + 90000000L) / g))
      .map { case (k, v) => k -> v.size.toLong }
    def v(x: Long, y: Long) = counts.getOrElse((x, y), 0L)
    val targets = counts.keySet.flatMap { case (x, y) =>
      for (dx <- -1L to 1L; dy <- -1L to 1L) yield (x + dx, y + dy) }
      .filter { case (x, y) => x >= 0 && y >= 0 &&
        x <= 360000000L / g - 1 && y <= 180000000L / g - 1 }
    targets.map { case (x, y) =>
      val gx = (for (dx <- -1L to 1L; dy <- -1L to 1L)
        yield v(x + dx, y + dy) * dx * (2 - math.abs(dy))).sum
      val gy = (for (dx <- -1L to 1L; dy <- -1L to 1L)
        yield v(x + dx, y + dy) * dy * (2 - math.abs(dx))).sum
      (x, y) -> ((v(x, y), gx, gy, gx * gx + gy * gy))
    }.toMap
  }

  test("sobel: step edge responds, plateau is zero, rim carries the front") {
    val g = 1000000L
    def at(px: Long, py: Long, n: Int): Seq[(Long, Long)] =
      Seq.fill(n)((px * g - 180000000L + g / 2, py * g - 90000000L + g / 2))
    // 3×3 plateau of 4s: center cell has gx = gy = 0 (flat interior);
    // the east rim column sees the drop to zero padding
    val pts = (for (x <- 10L to 12L; y <- 10L to 12L) yield at(x, y, 4)).flatten
    val got = runSobel(pts, g)
    assert(got((11L, 11L)) === ((4L, 0L, 0L, 0L)))
    // cell just east of the block: gx = -(4·1 + 4·2 + 4·1) = -16, gy = 0
    assert(got((13L, 11L)) === ((0L, -16L, 0L, 256L)))
    assert(got === bruteSobel(pts, g))
  }

  test("sobel: brute parity on the clustered scatter") {
    val rnd = new scala.util.Random(71)
    val centers = (0 until 6).map { _ =>
      (rnd.nextLong(60000000L) - 30000000L, rnd.nextLong(40000000L) - 20000000L)
    }
    val pts = centers.flatMap { case (cx, cy) =>
      (0 until 150).map { _ =>
        (cx + rnd.nextLong(2500000L) + rnd.nextLong(2500000L) - 2500000L,
          cy + rnd.nextLong(2500000L) + rnd.nextLong(2500000L) - 2500000L)
      }
    }
    val got = runSobel(pts, 1000000L)
    assert(got === bruteSobel(pts, 1000000L))
    assert(got.values.exists(_._4 > 0), "gradients must fire on cluster rims")
  }

  private def runIso(pts: Seq[(Long, Long)], g: Long,
                     sources: Seq[(Long, Long)], h: Int)
      : Map[(Long, Long), Long] =
    GridRaster.isochrone(pts.toDF("lon", "lat"), col("lon"), col("lat"), g,
        sources, h)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  /** Brute BFS: sources at 0 (occupied or not), moves only between
    * occupied rook-adjacent cells, capped at h steps. */
  private def bruteIso(pts: Seq[(Long, Long)], g: Long,
                       sources: Seq[(Long, Long)], h: Int)
      : Map[(Long, Long), Long] = {
    val occ = pts.map(p => ((p._1 + 180000000L) / g, (p._2 + 90000000L) / g)).toSet
    val dist = scala.collection.mutable.Map[(Long, Long), Long]()
    sources.foreach { case (lon, lat) =>
      dist.getOrElseUpdate(((lon + 180000000L) / g, (lat + 90000000L) / g), 0L)
    }
    var frontier = dist.keySet.toSet
    for (step <- 1L to h) {
      val next = frontier.flatMap { case (x, y) =>
        Seq((x + 1, y), (x - 1, y), (x, y + 1), (x, y - 1))
          .filter(c => occ(c) && !dist.contains(c))
      }
      next.foreach(c => dist(c) = step)
      frontier = next
    }
    dist.toMap
  }

  test("isochrone: corridor BFS, gap blocks, cap truncates, off-mask source isolated") {
    val g = 1000000L
    def at(px: Long, py: Long): (Long, Long) =
      (px * g - 180000000L + g / 2, py * g - 90000000L + g / 2)
    val mask = Seq(at(10, 10), at(11, 10), at(12, 10), at(12, 11), at(12, 12),
      at(14, 10)) // (13,10) missing → (14,10) unreachable
    val src = Seq(at(10, 10), at(20, 20)) // second source has no mask cell
    val got = runIso(mask, g, src, h = 4)
    assert(got === Map((10L, 10L) -> 0L, (11L, 10L) -> 1L, (12L, 10L) -> 2L,
      (12L, 11L) -> 3L, (12L, 12L) -> 4L, (20L, 20L) -> 0L))
    assert(got === bruteIso(mask, g, src, 4))
    // cap at 3 drops the corridor end; unreachable island never appears
    val capped = runIso(mask, g, src, h = 3)
    assert(!capped.contains((12L, 12L)) && !capped.contains((14L, 10L)))
    assert(capped === bruteIso(mask, g, src, 3))
  }

  test("catchments: corridor splits at the midpoint tie toward the smaller src_id") {
    val g = 1000000L
    def at(px: Long, py: Long): (Long, Long) =
      (px * g - 180000000L + g / 2, py * g - 90000000L + g / 2)
    // corridor (10..16, 10); sources at its two ends
    val mask = (10L to 16L).map(at(_, 10))
    val got = GridRaster.catchments(mask.toDF("lon", "lat"), col("lon"),
        col("lat"), g, Seq(at(10, 10), at(16, 10)), 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      (10L, 10L) -> ((0L, 0L)), (11L, 10L) -> ((1L, 0L)),
      (12L, 10L) -> ((2L, 0L)), (13L, 10L) -> ((3L, 0L)), // tie → src 0
      (14L, 10L) -> ((2L, 1L)), (15L, 10L) -> ((1L, 1L)),
      (16L, 10L) -> ((0L, 1L))))
    // dist agrees with the unlabeled isochrone on the same input
    val iso = runIso(mask, g, Seq(at(10, 10), at(16, 10)), 6)
    assert(got.view.mapValues(_._1).toMap === iso)
  }

  test("isochrone: brute parity on the clustered scatter from hub sources") {
    val rnd = new scala.util.Random(61)
    val centers = (0 until 6).map { _ =>
      (rnd.nextLong(60000000L) - 30000000L, rnd.nextLong(40000000L) - 20000000L)
    }
    val pts = centers.flatMap { case (cx, cy) =>
      (0 until 200).map { _ =>
        (cx + rnd.nextLong(2500000L) + rnd.nextLong(2500000L) - 2500000L,
          cy + rnd.nextLong(2500000L) + rnd.nextLong(2500000L) - 2500000L)
      }
    }
    for (h <- Seq(0, 2, 8))
      assert(runIso(pts, 1000000L, centers.take(2), h)
        === bruteIso(pts, 1000000L, centers.take(2), h), s"h=$h")
  }

  private def runEmerging(pts: Seq[(Long, Long, Long)], g: Long, t0: Long,
                          binUs: Long, nBins: Int): Map[(Long, Long), (Long, Long)] =
    GridRaster.emergingHotspots(pts.toDF("lon", "lat", "tus"), col("lon"),
        col("lat"), col("tus"), g, t0, binUs, nBins)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap

  private def bruteEmerging(pts: Seq[(Long, Long, Long)], g: Long, t0: Long,
                            binUs: Long, nBins: Int): Map[(Long, Long), (Long, Long)] =
    pts.filter(p => p._3 >= t0 && p._3 < t0 + binUs * nBins)
      .groupBy(p => ((p._1 + 180000000L) / g, (p._2 + 90000000L) / g))
      .map { case (k, evs) =>
        val xs = (0 until nBins).map(b =>
          evs.count(e => (e._3 - t0) / binUs == b).toLong)
        val s = (for (j <- 1 until nBins; i <- 0 until j)
          yield java.lang.Long.signum(xs(j) - xs(i)).toLong).sum
        k -> ((evs.size.toLong, s))
      }

  test("emergingHotspots: monotone up/down/late-arrival hand cases; window excludes") {
    val g = 1000000L
    def ev(px: Long, py: Long, tus: Long, n: Int): Seq[(Long, Long, Long)] =
      Seq.fill(n)((px * g - 180000000L + g / 2, py * g - 90000000L + g / 2, tus))
    val pts =
      // cell A: counts 1,2,3,4 across the 4 bins → S = +6 (perfect uptrend)
      ev(10, 10, 50, 1) ++ ev(10, 10, 150, 2) ++ ev(10, 10, 250, 3) ++ ev(10, 10, 350, 4) ++
      // cell B: all mass in bin 0 → series (5,0,0,0) → S = −3
      ev(20, 20, 10, 5) ++
      // cell C: appears only in the LAST bin → zeros before it → S = +3
      ev(30, 30, 399, 2) ++
      // out-of-window events must not create cells or counts
      ev(40, 40, 400, 3) ++ ev(41, 41, -1, 3)
    val got = runEmerging(pts, g, t0 = 0L, binUs = 100L, nBins = 4)
    assert(got === Map((10L, 10L) -> ((10L, 6L)), (20L, 20L) -> ((5L, -3L)),
      (30L, 30L) -> ((2L, 3L))))
    assert(got === bruteEmerging(pts, g, 0L, 100L, 4))
  }

  test("emergingHotspots: brute parity on a drifting clustered scatter") {
    val rnd = new scala.util.Random(29)
    val centers = (0 until 6).map { _ =>
      (rnd.nextLong(40000000L) - 20000000L, rnd.nextLong(30000000L) - 15000000L)
    }
    // event rate per center grows/shrinks linearly over 8 bins → real trends
    val pts = centers.zipWithIndex.flatMap { case ((cx, cy), ci) =>
      (0 until 8).flatMap { b =>
        val rate = if (ci % 2 == 0) 3 + 2 * b else 17 - 2 * b
        (0 until rate).map { _ =>
          (cx + rnd.nextLong(3000000L) - 1500000L,
            cy + rnd.nextLong(3000000L) - 1500000L,
            b * 1000L + rnd.nextLong(1000L))
        }
      }
    }
    val got = runEmerging(pts, 1000000L, t0 = 0L, binUs = 1000L, nBins = 8)
    assert(got === bruteEmerging(pts, 1000000L, 0L, 1000L, 8))
    assert(got.values.exists(_._2 > 0) && got.values.exists(_._2 < 0),
      "drifting fixture must produce both up- and down-trending cells")
  }

  // ---- flowAccumulation -------------------------------------------------

  /** Brute reference of the same deterministic rule set: min-valued lower
    * neighbor (ties to smallest index), recursive downstream counting.
    */
  private def bruteFlow(pts: Seq[(Long, Long)], g: Long)
      : Map[(Long, Long), (Long, Long, Long, Long, Long)] = {
    val raster = pts.groupBy { case (x, y) =>
      ((x + 180000000L) / g, (y + 90000000L) / g)
    }.map { case (c, v) => c -> v.size.toLong }
    def flowOf(c: (Long, Long)): Option[(Long, Long)] = {
      val n = raster(c)
      val cands = for {
        dx <- -1 to 1; dy <- -1 to 1; if dx != 0 || dy != 0
        nc = (c._1 + dx, c._2 + dy); nn <- raster.get(nc); if nn < n
      } yield (nn, ((dx + 1) * 3 + (dy + 1)).toLong, nc)
      if (cands.isEmpty) None else Some(cands.minBy(t => (t._1, t._2))._3)
    }
    val flow = raster.keys.map(c => c -> flowOf(c)).toMap
    val acc = scala.collection.mutable.Map[(Long, Long), Long]()
      .withDefaultValue(0L)
    raster.keys.foreach { start =>
      var cur: Option[(Long, Long)] = Some(start)
      while (cur.isDefined) { acc(cur.get) += 1L; cur = flow(cur.get).map(identity) }
    }
    raster.map { case (c, n) =>
      val f = flow(c)
      c -> (n, f.map(_._1).getOrElse(-1L), f.map(_._2).getOrElse(-1L),
        if (f.isEmpty) 1L else 0L, acc(c))
    }
  }

  private def runFlow(pts: Seq[(Long, Long)], g: Long)
      : Map[(Long, Long), (Long, Long, Long, Long, Long)] =
    GridRaster.flowAccumulation(pts.toDF("x", "y"), col("x"), col("y"), g)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap

  test("flowAccumulation: hand case — chain drains into a pit, plateau ties break by index") {
    val g = 1000000L
    def cell(cx: Long, cy: Long, k: Int): Seq[(Long, Long)] =
      Seq.fill(k)((cx * g - 180000000L + 1L, cy * g - 90000000L + 1L))
    // chain 5 -> 3 -> 1 (pit) along x; isolated cell is its own pit;
    // a value-2 cell between two value-1 cells ties to the SMALLER index
    val pts = cell(10, 10, 5) ++ cell(11, 10, 3) ++ cell(12, 10, 1) ++
      cell(50, 50, 4) ++
      cell(20, 20, 1) ++ cell(21, 20, 2) ++ cell(22, 20, 1)
    val got = runFlow(pts, g)
    assert(got((10L, 10L)) === ((5L, 11L, 10L, 0L, 1L)))
    assert(got((11L, 10L)) === ((3L, 12L, 10L, 0L, 2L)))
    assert(got((12L, 10L)) === ((1L, -1L, -1L, 1L, 3L)))
    assert(got((50L, 50L)) === ((4L, -1L, -1L, 1L, 1L)))
    // (21,20): neighbors (20,20) idx 1 and (22,20) idx 7, both value 1 ->
    // the idx-1 neighbor wins
    assert(got((21L, 20L)) === ((2L, 20L, 20L, 0L, 1L)))
    assert(got === bruteFlow(pts, g))
  }

  test("flowAccumulation: raises when maxIters is below the chain depth + 1") {
    val g = 1000000L
    // values 5,4,3,2,1 along x: a 4-hop chain into the pit at (14, 10)
    val pts = (0 until 5).flatMap { i =>
      Seq.fill(5 - i)(((10L + i) * g - 180000000L + 1L, 10L * g - 90000000L + 1L))
    }.toDF("x", "y")
    def run(maxIters: Int) =
      GridRaster.flowAccumulation(pts, col("x"), col("y"), g, maxIters)
        .where(col("is_pit") === 1L).select("acc").as[Long].collect().toSeq
    val ex = intercept[IllegalArgumentException](run(4))
    assert(ex.getMessage.contains("did not converge"))
    assert(run(5) === Seq(5L)) // 4 rounds that grow acc + the confirming one
  }

  test("flowAccumulation: brute parity on a clustered scatter, mass conserved") {
    val rnd = new scala.util.Random(31)
    val centers = (0 until 5).map { _ =>
      (rnd.nextLong(40000000L) - 20000000L, rnd.nextLong(30000000L) - 15000000L)
    }
    val pts = centers.flatMap { case (cx, cy) =>
      (0 until 400).map { _ =>
        (cx + rnd.nextLong(8000000L) - 4000000L,
          cy + rnd.nextLong(8000000L) - 4000000L)
      }
    }
    val got = runFlow(pts, 1000000L)
    assert(got === bruteFlow(pts, 1000000L))
    // every cell's path ends in a pit, so summing acc over pits counts each
    // cell once per downstream pit-path membership; weaker invariant that
    // is still rule-independent: acc >= 1 everywhere and pits exist
    assert(got.values.forall(_._5 >= 1L))
    assert(got.values.exists(_._4 == 1L))
  }

  // ---- kde ---------------------------------------------------------------

  private def bruteKde(pts: Seq[(Long, Long)], g: Long, bw: Int, scale: Long)
      : Map[(Long, Long), (Long, Long)] = {
    val maxX = 360000000L / g - 1; val maxY = 180000000L / g - 1
    val r2 = bw.toLong * bw
    val counts = pts.map { case (x, y) => ((x + 180000000L) / g, (y + 90000000L) / g) }
      .groupBy(identity).map { case (c, v) => c -> v.size.toLong }
    val out = scala.collection.mutable.Map[(Long, Long), (Long, Long)]()
      .withDefaultValue((0L, 0L))
    for (((px, py), n) <- counts; dx <- -bw to bw; dy <- -bw to bw) {
      val d2 = dx.toLong * dx + dy.toLong * dy
      if (d2 < r2) {
        val (cx, cy) = (px + dx, py + dy)
        if (cx >= 0 && cx <= maxX && cy >= 0 && cy <= maxY) {
          val w = scale * (r2 - d2) / r2
          val (raw, den) = out((cx, cy))
          out((cx, cy)) = (raw + (if (dx == 0 && dy == 0) n else 0L), den + n * w)
        }
      }
    }
    out.toMap
  }

  test("kde: single point spreads the exact Epanechnikov disk") {
    val g = 1000000L
    // one point at cell (10, 10); R = 2: w(0) = scale, w(1) = 3s/4,
    // w(2 diag) = s/2, w(d2=4) excluded (open ball)
    val pts = Seq((10L * g - 180000000L + 5L, 10L * g - 90000000L + 5L))
    val got = GridRaster.kde(pts.toDF("x", "y"), col("x"), col("y"), g,
        bandwidthCells = 2, scale = 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got((10L, 10L)) === ((1L, 1000000L)))
    assert(got((11L, 10L)) === ((0L, 750000L)))
    assert(got((11L, 11L)) === ((0L, 500000L)))
    assert(!got.contains((12L, 10L)), "d2 = R2 must be excluded (open ball)")
    assert(got === bruteKde(pts, g, 2, 1000000L))
  }

  test("kde: brute parity on a clustered scatter across bandwidths") {
    val rnd = new scala.util.Random(37)
    val pts = (0 until 800).map { _ =>
      (rnd.nextLong(30000000L) - 15000000L, rnd.nextLong(30000000L) - 15000000L)
    }
    for (bw <- Seq(1, 3, 5)) {
      assert(GridRaster.kde(pts.toDF("x", "y"), col("x"), col("y"), 1000000L,
          bandwidthCells = bw)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap ===
        bruteKde(pts, 1000000L, bw, 1000000L), s"bw=$bw")
    }
  }

  // ---- zonalMajority -----------------------------------------------------

  test("zonalMajority: hand case — reclassify ladder, majority/minority ties, variety") {
    import graft.core.{PolyM, RingM}
    import graft.fixtures.PolySpec
    val g = 1000000L
    def rect(id: String, lo: Long, la: Long, hi: Long, ha: Long) =
      PolySpec(id, "rect", PolyM(Array(RingM(Array(lo, hi, hi, lo), Array(la, la, ha, ha)))))
    // zone z1 covers cells (10..13, 10): populate counts 1, 2, 4, 8 ->
    // classes 0, 1, 2, 3 (each once -> 4-way tie: majority = class 0 by
    // the smallest-class rule, minority = class 0 too), variety 4
    def cell(cx: Long, cy: Long, k: Int): Seq[(Long, Long)] =
      Seq.fill(k)((cx * g - 180000000L + 5L, cy * g - 90000000L + 5L))
    val ptsA = cell(10, 10, 1) ++ cell(11, 10, 2) ++ cell(12, 10, 4) ++ cell(13, 10, 8)
    // zone z2 covers cells (30..32, 30): counts 4, 4, 1 -> classes 2, 2, 0
    val ptsB = cell(30, 30, 4) ++ cell(31, 30, 4) ++ cell(32, 30, 1)
    val specs = Array(
      rect("z1", 10L * g - 180000000L, 10L * g - 90000000L,
        14L * g - 180000000L, 11L * g - 90000000L),
      rect("z2", 30L * g - 180000000L, 30L * g - 90000000L,
        33L * g - 180000000L, 31L * g - 90000000L))
    val got = GridRaster.zonalMajority(spark, (ptsA ++ ptsB).toDF("x", "y"),
        col("x"), col("y"), g, Seq(2L, 4L, 8L), specs)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    assert(got("z1") === ((0L, 1L, 0L, 1L, 4L, 4L)))
    assert(got("z2") === ((2L, 2L, 0L, 1L, 2L, 3L)))
  }

  // ---- focalMedian -------------------------------------------------------

  private def bruteFocalMedian(pts: Seq[(Long, Long)], g: Long)
      : Map[(Long, Long), (Long, Long)] = {
    val counts = pts.map { case (x, y) => ((x + 180000000L) / g, (y + 90000000L) / g) }
      .groupBy(identity).map { case (c, v) => c -> v.size.toLong }
    counts.map { case (c, n) =>
      val win = (for (dx <- -1 to 1; dy <- -1 to 1;
        v <- counts.get((c._1 + dx, c._2 + dy))) yield v).sorted
      c -> (n, win((win.size + 1) / 2 - 1))
    }
  }

  test("focalMedian: hand case — lower median ignores the glitch cell") {
    val g = 1000000L
    def cell(cx: Long, cy: Long, k: Int): Seq[(Long, Long)] =
      Seq.fill(k)((cx * g - 180000000L + 5L, cy * g - 90000000L + 5L))
    // row of counts 3,3,1000,3,3: the glitch's own median over its 3-cell
    // window {3,1000,3} is 3 — the mean smoother would report ~335
    val pts = cell(10, 10, 3) ++ cell(11, 10, 3) ++ cell(12, 10, 1000) ++
      cell(13, 10, 3) ++ cell(14, 10, 3)
    val got = GridRaster.focalMedian(pts.toDF("x", "y"), col("x"), col("y"), g)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got((12L, 10L)) === ((1000L, 3L)))
    assert(got((10L, 10L)) === ((3L, 3L)))
    assert(got === bruteFocalMedian(pts, g))
  }

  test("focalMedian: brute parity on a clustered scatter (even windows take the lower middle)") {
    val rnd = new scala.util.Random(41)
    val pts = (0 until 900).map { _ =>
      (rnd.nextLong(25000000L) - 12000000L, rnd.nextLong(25000000L) - 12000000L)
    }
    val got = GridRaster.focalMedian(pts.toDF("x", "y"), col("x"), col("y"), 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got === bruteFocalMedian(pts, 1000000L))
  }

  // ---- joinCounts --------------------------------------------------------

  test("joinCounts: clump vs checkerboard poles + brute parity") {
    val g = 1000000L
    def cell(cx: Long, cy: Long, k: Int): Seq[(Long, Long)] =
      Seq.fill(k)((cx * g - 180000000L + 5L, cy * g - 90000000L + 5L))
    def run(pts: Seq[(Long, Long)], t: Long) =
      GridRaster.joinCounts(pts.toDF("x", "y"), col("x"), col("y"), g, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).head
    // 2x2 solid black block + 2x2 solid white block far away:
    // pairs: 4 BB inside the black block, 4 WW inside white, 0 BW
    val clump = (for (dx <- 0L to 1L; dy <- 0L to 1L) yield
        cell(10 + dx, 10 + dy, 5)).flatten ++
      (for (dx <- 0L to 1L; dy <- 0L to 1L) yield
        cell(50 + dx, 50 + dy, 1)).flatten
    assert(run(clump, 3L) === ((4L, 4L, 4L, 0L, 4L, 8L)))
    // 3x3 checkerboard (center-connected): corners+center black ->
    // every rook pair is BW (12 pairs)
    val checker = (for (dx <- 0L to 2L; dy <- 0L to 2L) yield
      cell(20 + dx, 20 + dy, if ((dx + dy) % 2 == 0) 5 else 1)).flatten
    assert(run(checker, 3L) === ((5L, 4L, 0L, 12L, 0L, 12L)))
    // brute parity on a random scatter
    val rnd = new scala.util.Random(47)
    val pts = (0 until 600).map { _ =>
      (rnd.nextLong(20000000L) - 10000000L, rnd.nextLong(20000000L) - 10000000L)
    }
    val counts = pts.map { case (x, y) => ((x + 180000000L) / g, (y + 90000000L) / g) }
      .groupBy(identity).map { case (c, v) => c -> v.size.toLong }
    val color = counts.map { case (c, n) => c -> (if (n >= 2L) 1L else 0L) }
    var (bb, bw, ww, np) = (0L, 0L, 0L, 0L)
    for ((c, b) <- color; d <- Seq((c._1 + 1, c._2), (c._1, c._2 + 1));
         b2 <- color.get(d)) {
      np += 1
      if (b == 1 && b2 == 1) bb += 1
      else if (b == 0 && b2 == 0) ww += 1 else bw += 1
    }
    val nb = color.values.sum; val nw = color.size - nb
    assert(run(pts, 2L) === ((nb, nw, bb, bw, ww, np)))
  }
}
