package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.core.{PhashLoc, Raycast, TileMath}
import graft.fixtures.Fixtures
import graft.functions.GraftFunctions._
import graft.operators.SpatialJoin

/** The north-star job: images table -> phash decode -> broadcast cover
  * join -> tiles at z=12, entry projection written to `noop`.
  *
  * Input: a base table of [[BaseRows]] rows in the images `input_hint`
  * shape, generated with `Fixtures.imageRow` over the seed's id range and
  * laid out like `Fixtures.images` (range-partitioned and sorted by
  * zcell(12)); a pass reads it [[Replicas]] times in one scan.
  */
final class Flagship(val tablePath: String, val lo: Long) extends Workload {
  import Flagship._

  val items: Seq[String] = Seq("flagship")
  def layerOf(item: String): String = "operators"
  override def inputRows: Option[Long] = Some(BaseRows * Replicas)

  private var reference: Option[Digest] = None
  override def expected(item: String): Option[Digest] = reference.map(_.times(Replicas))

  /** Writes the base table; returns seconds taken (fixtures.gen_s). The
    * zcell layout is decided on the cheap location alone, so each image is
    * encoded once, after the range shuffle.
    */
  def generate(spark: SparkSession): Double = {
    import spark.implicits._
    val t0 = System.nanoTime()
    spark.range(lo, lo + BaseRows, 1, GenPartitions).as[Long]
      .map { i => val (x, y) = Fixtures.locOf(i); (i, PhashLoc.encode(x, y)) }.toDF("i", "phash")
      .withColumn("zc", zcell(phashLon(col("phash")), phashLat(col("phash")), 12))
      .repartitionByRange(Files, col("zc"))
      .sortWithinPartitions("zc")
      .select("i").as[Long]
      .map(Fixtures.imageRow _)
      .write.mode("overwrite").parquet(tablePath)
    (System.nanoTime() - t0) / 1e9
  }

  /** One scan over the base table's files listed [[Replicas]] times: the
    * union of the replicas without one plan branch per replica.
    */
  def source(spark: SparkSession): DataFrame =
    spark.read.parquet(Seq.fill(Replicas)(tablePath): _*)

  def decoded(spark: SparkSession): DataFrame = source(spark)
    .withColumn("lon", phashLon(col("phash")))
    .withColumn("lat", phashLat(col("phash")))

  def build(spark: SparkSession, item: String): DataFrame = {
    val joined = SpatialJoin.join(spark, decoded(spark), col("lon"), col("lat"), Fixtures.polygons)
    SpatialJoin.assignTiles(joined, col("lon"), col("lat"), Zoom)
      .select("image_id", "poly_id", "tile_z", "tile_x", "tile_y")
  }

  /** Brute-force reference over the base ids, independent of the join:
    * every point against every polygon's bbox, then `Raycast.contains`,
    * tiles from `TileMath`. The digest hashes the rows exactly as Spark's
    * xxhash64 does for the entry projection's schema.
    */
  def computeReference(schema: StructType): Digest = {
    val polys = Fixtures.polygons
    val types = schema.fields.map(_.dataType)
    var rows = 0L; var sLo = 0L; var sHi = 0L
    var i = lo
    while (i < lo + BaseRows) {
      val (lonM, latM) = Fixtures.locOf(i)
      val ph = PhashLoc.encode(lonM, latM)
      val lon = PhashLoc.lonMicro(ph); val lat = PhashLoc.latMicro(ph)
      val id = UTF8String.fromString(f"img$i%012d")
      var k = 0
      while (k < polys.length) {
        val p = polys(k)
        if (p.poly.bbox.contains(lon, lat) && Raycast.contains(lon, lat, p.poly)) {
          val vals: Array[Any] = Array(id, UTF8String.fromString(p.poly_id), Zoom,
            TileMath.equirectX(Zoom, lon), TileMath.equirectY(Zoom, lat))
          var h = 42L
          var c = 0
          while (c < vals.length) {
            val v = types(c) match {
              case IntegerType => vals(c) match { case x: Long => x.toInt; case x => x }
              case LongType => vals(c) match { case x: Int => x.toLong; case x => x }
              case _ => vals(c)
            }
            h = XxHash64Function.hash(v, types(c), h)
            c += 1
          }
          rows += 1; sLo += h & 0xffffffffL; sHi += h >>> 32
        }
        k += 1
      }
      i += 1
    }
    val d = Digest(rows, sLo, sHi)
    reference = Some(d)
    d
  }
}

object Flagship {
  val BaseRows = 65536L
  val Replicas = 64
  val Files = 2
  val GenPartitions = 16
  val Zoom = 12

  /** Seed 42 is ids 0 until BaseRows; every other seed a disjoint range. */
  def idLow(seed: Long): Long = java.lang.Math.floorMod(seed - 42L, 1L << 24) * BaseRows
}

/** Cumulative rungs of the flagship pipeline, each run as its own fresh
  * job and written to `noop` like the pass. Self time of a rung is its
  * difference from the previous one.
  */
final class Ladder(f: Flagship) extends Workload {
  val items: Seq[String] = Ladder.Rungs
  def layerOf(item: String): String = item match {
    case "scan" => "sources"
    case "decode" | "explode" => "functions"
    case _ => "operators"
  }
  override def expected(item: String): Option[Digest] =
    if (item == "materialize") f.expected("flagship") else None

  def build(spark: SparkSession, item: String): DataFrame = {
    lazy val cover = SpatialJoin.cover(Fixtures.polygons)
    lazy val exploded = f.decoded(spark).withColumn("_lc", explode(array(cover.levels.map(z =>
      zcell(col("lon"), col("lat"), z).bitwiseOR(lit(z.toLong << 34))): _*)))
    lazy val joined = SpatialJoin.join(spark, f.decoded(spark), col("lon"), col("lat"), Fixtures.polygons)
    item match {
      case "scan" => f.source(spark).select("image_id", "phash")
      case "decode" => f.decoded(spark).select("image_id", "lon", "lat")
      case "explode" => exploded.select("image_id", "lon", "lat", "_lc")
      case "probe" =>
        import spark.implicits._
        val coverDf = cover.rows.map { case (pid, pidx, lvl, cell, full) =>
          (pid, pidx, (lvl.toLong << 34) | cell, full)
        }.toDF("poly_id", "_pidx", "_lc", "_full")
        exploded.join(broadcast(coverDf), Seq("_lc")).select("image_id", "lon", "lat", "poly_id", "_pidx", "_full")
      case "refine" => joined.select("image_id", "lon", "lat", "poly_id")
      case "tile" => SpatialJoin.assignTiles(joined, col("lon"), col("lat"), Flagship.Zoom)
        .select("image_id", "lon", "lat", "poly_id", "tile_z", "tile_x", "tile_y")
      case "materialize" => f.build(spark, item)
    }
  }
}

object Ladder {
  val Rungs: Seq[String] = Seq("scan", "decode", "explode", "probe", "refine", "tile", "materialize")
}

/** Single-thread rates of the `core` kernels on the flagship's points. */
object Kernels {
  private def rate(minS: Double)(batch: => Long): Double = {
    var ops = 0L
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < minS) ops += batch
    ops / ((System.nanoTime() - t0) / 1e9) / 1e6
  }

  /** (cover_ms, raycast_mops, phash_decode_mops) */
  def measure(lo: Long, n: Long): (Double, Double, Double) = {
    val polys = Fixtures.polygons
    val phashes = Array.tabulate(n.toInt) { k =>
      val (a, b) = Fixtures.locOf(lo + k); PhashLoc.encode(a, b)
    }
    val coverMs = Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime(); SpatialJoin.cover(polys); (System.nanoTime() - t0) / 1e6
    })
    // candidate set of the brute-force check: (point, polygon) pairs whose bbox holds the point
    val cand = scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
    phashes.foreach { ph =>
      val x = PhashLoc.lonMicro(ph); val y = PhashLoc.latMicro(ph)
      polys.indices.foreach(k => if (polys(k).poly.bbox.contains(x, y)) cand += ((x, y, k)))
    }
    val cx = cand.map(_._1).toArray; val cy = cand.map(_._2).toArray
    val cp = cand.map(c => polys(c._3).poly).toArray
    var sink = 0L
    val raycast = rate(0.3) {
      var i = 0
      while (i < cx.length) { if (Raycast.contains(cx(i), cy(i), cp(i))) sink += 1; i += 1 }
      cx.length.toLong
    }
    val decode = rate(0.2) {
      var i = 0
      while (i < phashes.length) { sink += PhashLoc.lonMicro(phashes(i)) ^ PhashLoc.latMicro(phashes(i)); i += 1 }
      phashes.length.toLong
    }
    if (sink == 42L) println("") // keeps the loops observable to the JIT
    (coverMs, raycast, decode)
  }
}
