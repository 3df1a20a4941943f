package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.api.Reducer
import graft.fixtures.Fixtures
import graft.functions.GraftFunctions._
import graft.operators.{Dbscan, Dedup, Knn, MapMatch, Routing, Similarity, SpatialJoin, TextAnalysis, Trajectory}
import graft.oracle.{Derive, TextOracle}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `entry` = the flagship query (SURVEY.md §7 step 3): spatial join of the
  * image table (locations derived from phash) against the polygon extent
  * set, plus web-tile assignment. `queries`/`oracleSql` = per-operator
  * DuckDB-checked twins over the driver testdata tables (FIXTURES.md §4).
  * Every aggregate output goes through exact decimal accumulation with one
  * final cast to double, so values are order-insensitive and engine-exact.
  */
object SparkEntry {
  /** Flagship on generated sf0.001-scale fixtures; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val imgs = Fixtures.images(spark, 10000)
      .withColumn("lon", phashLon(col("phash")))
      .withColumn("lat", phashLat(col("phash")))
    val joined = SpatialJoin.join(spark, imgs, col("lon"), col("lat"), Fixtures.polygons)
    SpatialJoin.assignTiles(joined, col("lon"), col("lat"), 12)
      .select("image_id", "poly_id", "tile_z", "tile_x", "tile_y")
  }

  private def customerPts(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"),
        Derive.lonMicro(col("c_custkey")).as("lonm"),
        Derive.latMicro(col("c_custkey")).as("latm"))

  /** Aspect buckets for q6z — deliberately no 1:1 bucket at 64 px so the
    * 64×64 fixture images must REASSIGN to the nearest ratio, proving the
    * argmin does more than echo the source dims.
    */
  private val AspectBuckets: Seq[(Int, Int)] =
    Seq((32, 32), (64, 32), (96, 32), (32, 64), (96, 64))

  /** Weekly snapshot instants via the ISO interval+period expander (B3 —
    * the reference's `timestamps("2024-01-08","2024-01-29","P7D")`).
    */
  private val snapTimes = graft.api.Timestamps.expandStrings(
    "2024-01-08", "2024-01-29", "P7D")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- C2: many-polygon spatial join (cover-cell equi-join + raycast refine)
    "q01_spatial_join" -> ((s, dir) => {
      SpatialJoin.join(s, customerPts(s, dir), col("lonm"), col("latm"), Derive.rectSpecs)
        .select("c_custkey", "poly_id")
        .orderBy("c_custkey", "poly_id")
    }),
    // ---- C5: raster↔vector tile assignment (equirect, integer-exact)
    "q02_tile_assign" -> ((s, dir) => {
      val pts = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"),
          Derive.lonMicro(col("o_orderkey")).as("lonm"),
          Derive.latMicro(col("o_orderkey")).as("latm"))
      SpatialJoin.assignTiles(pts, col("lonm"), col("latm"), 8)
        .select("o_orderkey", "tile_z", "tile_x", "tile_y")
        .orderBy("o_orderkey")
    }),
    // ---- H1/B2: MultiPolygon-with-hole spatial join — even-odd PolyM
    //      (shell + hole + disjoint island per id) through the SAME generic
    //      cover-join + raycast path; oracle is exact rect algebra
    "q0f_multipolygon_join" -> ((s, dir) => {
      SpatialJoin.join(s, customerPts(s, dir), col("lonm"), col("latm"), Derive.multiSpecs)
        .select("c_custkey", "poly_id")
        .orderBy("c_custkey", "poly_id")
    }),
    // ---- C2 with a TABLE-SIZED polygon side: cover computed in a
    //      distributed flatMap over (poly_id, wkb) rows, refine against
    //      rings shipped on partial cover cells — same semantics and oracle
    //      as q01, different (driver-free) physical plan
    "q0l_spatial_join_df" -> ((s, dir) => {
      SpatialJoin.joinDf(s, customerPts(s, dir), col("lonm"), col("latm"),
          Fixtures.polygonsDf(s, Derive.rectSpecs))
        .select("c_custkey", "poly_id")
        .orderBy("c_custkey", "poly_id")
    }),
    // ---- C2/H4 line-feature composition: zone-CLIPPED segment length per
    //      polygon (the reference's "length of ways per district" —
    //      aggregateByGeometry + length over clipped geometries). Segments
    //      derive from order keys (endpoint + bounded delta); the clip is
    //      one fixed IEEE slab chain quantized by floor(len·1000), so the
    //      DuckDB twin reproduces every binary double exactly and the sum
    //      is int64-exact.
    "q74_clip_length" -> ((s, dir) => {
      val k = col("o_orderkey")
      val segs = s.read.parquet(s"$dir/orders.parquet").select(k,
        Derive.lonMicro(k).as("x1"), Derive.latMicro(k).as("y1"),
        (Derive.lonMicro(k) + (k * 7919L) % 2000001L - 1000000L).as("x2"),
        (Derive.latMicro(k) + (k * 104729L) % 2000001L - 1000000L).as("y2"))
      SpatialJoin.clipLengthJoin(s, segs, k, col("x1"), col("y1"),
          col("x2"), col("y2"), Derive.rectSpecs)
        .orderBy("poly_id")
    }),
    // ---- C2/H3 polygon-feature composition: zone-CLIPPED feature AREA per
    //      polygon ("area of buildings per district"). Rect features derive
    //      from customer keys (center ± bounded half-dims); rect∩rect is a
    //      closed-form INTEGER overlap — no float anywhere on this path.
    "q75_clip_area" -> ((s, dir) => {
      val k = col("c_custkey")
      val feats = s.read.parquet(s"$dir/customer.parquet").select(k,
        (Derive.lonMicro(k) - (k * 6101L) % 1500001L).as("flo"),
        (Derive.latMicro(k) - (k * 9203L) % 1500001L).as("fla"),
        (Derive.lonMicro(k) + (k * 6101L) % 1500001L).as("fhi"),
        (Derive.latMicro(k) + (k * 9203L) % 1500001L).as("fha"))
      SpatialJoin.clipAreaJoin(s, feats, k, col("flo"), col("fla"),
          col("fhi"), col("fha"), Derive.rectSpecs)
        // DECIMAL(38,0) stays internal (10^12-feature sum headroom); the
        // driver surface gets the canonical digit STRING — decimal hash
        // canonicalization differs between parquet readers.
        .withColumn("clipped_area", col("clipped_area").cast("string"))
        .orderBy("poly_id")
    }),
    // ---- C2/H4 in METERS — the upstream flagship "km of roads per
    //      district" answers in meters [ref: oshdb-util Geo.lengthOf], not
    //      planar µdeg: same slab clip, then the local equirectangular
    //      metric at the clipped midpoint latitude. cos is a fixed Horner
    //      polynomial (not libm) so the DuckDB twin reproduces every binary
    //      double bit-for-bit; floor(m·1000) per pair → exact int64 mm sum.
    "q78_clip_length_m" -> ((s, dir) => {
      val k = col("o_orderkey")
      val segs = s.read.parquet(s"$dir/orders.parquet").select(k,
        Derive.lonMicro(k).as("x1"), Derive.latMicro(k).as("y1"),
        (Derive.lonMicro(k) + (k * 7919L) % 2000001L - 1000000L).as("x2"),
        (Derive.latMicro(k) + (k * 104729L) % 2000001L - 1000000L).as("y2"))
      SpatialJoin.clipLengthJoin(s, segs, k, col("x1"), col("y1"),
          col("x2"), col("y2"), Derive.rectSpecs, unit = "meters")
        .orderBy("poly_id")
    }),
    // ---- C2/H3 in METERS² — "m² of buildings per district" [ref:
    //      oshdb-util Geo.areaOf]: integer rect overlap, then w·cosφc·M ×
    //      h·M at the overlap's center latitude, floor-quantized to whole
    //      m² per pair; DECIMAL(38,0) sum stays internal, STRING surfaces.
    "q79_clip_area_m2" -> ((s, dir) => {
      val k = col("c_custkey")
      val feats = s.read.parquet(s"$dir/customer.parquet").select(k,
        (Derive.lonMicro(k) - (k * 6101L) % 1500001L).as("flo"),
        (Derive.latMicro(k) - (k * 9203L) % 1500001L).as("fla"),
        (Derive.lonMicro(k) + (k * 6101L) % 1500001L).as("fhi"),
        (Derive.latMicro(k) + (k * 9203L) % 1500001L).as("fha"))
      SpatialJoin.clipAreaJoin(s, feats, k, col("flo"), col("fla"),
          col("fhi"), col("fha"), Derive.rectSpecs, unit = "meters")
        .withColumn("clipped_m2", col("clipped_m2").cast("string"))
        .orderBy("poly_id")
    }),
    // ---- H5: zcell encoding + cell-keyed aggregation (the scan-pruning key)
    "q03_zcell_count" -> ((s, dir) => {
      customerPts(s, dir)
        .select(zcell(col("lonm"), col("latm"), 12).as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("n_points"))
        .orderBy("cell")
    }),
    // ---- D11: aggregateByGeometry = spatial join → keyed count
    "q04_agg_by_geometry" -> ((s, dir) => {
      val joined = SpatialJoin.join(s, customerPts(s, dir), col("lonm"), col("latm"), Derive.rectSpecs)
      Reducer.on(joined).aggregateBy("poly_id", col("poly_id")).count("n_points")
        .orderBy("poly_id")
    }),
    // ---- C4: exact kNN join via iterative cell-ring expansion
    "q06_knn" -> ((s, dir) => {
      val nation = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey"),
          Derive.lonMicro(col("n_nationkey")).as("lonm"),
          Derive.latMicro(col("n_nationkey")).as("latm"))
        .collect().map(r => Knn.QueryPt(r.getAs[Number](0).longValue(),
          r.getAs[Number](1).longValue(), r.getAs[Number](2).longValue()))
      Knn.knnJoin(s, customerPts(s, dir), col("c_custkey"), col("lonm"), col("latm"),
          nation.toSeq, k = 5, level = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    }),
    // ---- radius join with a DataFrame query side (single-round cell cover)
    "q0g_radius_join_df" -> ((s, dir) => {
      val sup = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey"),
          Derive.lonMicro(col("s_suppkey")).as("lonm"),
          Derive.latMicro(col("s_suppkey")).as("latm"))
      Knn.radiusJoinDf(s, customerPts(s, dir), col("c_custkey"), col("lonm"), col("latm"),
          sup, col("s_suppkey"), col("lonm"), col("latm"),
          radiusMicro = 15000000L, level = 5)
        .orderBy("qid", "neighbor_id")
    }),
    // ---- C4 at scale: DataFrame × DataFrame kNN join — the query side is a
    //      table (distributed ring expansion + per-round retirement), not a
    //      driver-side Seq; same exact semantics as q06
    "q0e_knn_df" -> ((s, dir) => {
      val sup = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey"),
          Derive.lonMicro(col("s_suppkey")).as("lonm"),
          Derive.latMicro(col("s_suppkey")).as("latm"))
      Knn.knnJoinDf(s, customerPts(s, dir), col("c_custkey"), col("lonm"), col("latm"),
          sup, col("s_suppkey"), col("lonm"), col("latm"), k = 5, level = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    }),
    // ---- H3/H4 + B5 geometry stage: WKB → metrics (spherical-shoelace area,
    //      haversine perimeter, geometry type) → filter-DSL virtual keys
    //      (geometry/area/perimeter — upstream oshdb-filter grammar). ORACLED:
    //      over rect + multipolygon specs the same metric formulas are
    //      closed-form SQL; only exact columns are output and every threshold
    //      sits ≥3% from the nearest value, so double jitter cannot flip rows.
    "q07_geo_metric_filter" -> ((s, dir) => {
      val polys = SpatialJoin.withGeoMetrics(
        Fixtures.polygonsDf(s, Derive.rectSpecs ++ Derive.multiSpecs))
      polys.where(graft.filter.FilterDsl.toColumn(
          "geometry in (polygon, multipolygon) and area:(8e12..2e13) and not perimeter:(3e7..)",
          polys.schema, SpatialJoin.geoBindings))
        .select("poly_id", "kind", "geom_type", "n_vertices").orderBy("poly_id")
    }),
    // ---- H1 fallback + B5 `geometry:other` arm: a mixed-geometry table
    //      (closed rects → polygon, hole/island specs → multipolygon, OPEN
    //      relations → GeometryCollection via RingAssembly.relationGeometry,
    //      the upstream non-multipolygon-relation behavior) filtered with
    //      the DSL's GeometryTypeFilter classes. `geometry:polygon` matches
    //      Polygon AND MultiPolygon (the upstream class semantic);
    //      vertices:(..8) then excludes the 12-vertex multis, so all three
    //      classes discriminate. ORACLED: every output column is a
    //      generator-rule constant (ids, kinds, JTS type names, vertex
    //      counts).
    "q6h_geometry_other" -> ((s, dir) => {
      import s.implicits._
      val polyRows = (Derive.rectSpecs ++ Derive.multiSpecs).toSeq.map(sp =>
        (sp.poly_id, sp.kind, graft.core.Jts.toWkb(graft.core.Jts.toJtsEvenOdd(sp.poly))))
      val otherRows = Derive.openRels.toSeq.map { case (id, ways) =>
        (id, "open",
          graft.core.Jts.toWkb(graft.core.RingAssembly.relationGeometry(ways.toSeq)))
      }
      val df = (polyRows ++ otherRows).toDF("poly_id", "kind", "wkb")
      val g = SpatialJoin.withGeoMetrics(df)
      g.where(graft.filter.FilterDsl.toColumn(
          "geometry:other or (geometry:polygon and vertices:(..8))",
          g.schema, SpatialJoin.geoBindings))
        .select("poly_id", "kind", "geom_type", "n_vertices").orderBy("poly_id")
    }),
    // ---- H2/C5: vector side of raster↔vector — polygons clipped to
    //      web-tile bboxes (distributed JTS ∩ flatMap). ORACLED: over the
    //      rect fixture set rect ∩ tile = rect, so the clipped envelope is
    //      closed-form integer algebra in ANSI SQL; only areal (dim-2)
    //      intersections count (an edge-aligned rect/tile touch is a line).
    //      Generic-polygon clip stays kernel-gated in FlagshipSpec.
    "q0d_clip_tiles" -> ((s, dir) => {
      SpatialJoin.clipPolysToTiles(s, Derive.rectSpecs, z = 8)
        .where(col("clip_dim") === 2)
        .select(col("poly_id"), col("tile_z"), col("tile_x"), col("tile_y"),
          col("clip_lon_min"), col("clip_lat_min"),
          col("clip_lon_max"), col("clip_lat_max"))
        .orderBy("poly_id", "tile_x", "tile_y")
    }),
    // ---- D11 + zerofill: every polygon keyed, empty ones filled with 0
    "q08_agg_geometry_zerofill" -> ((s, dir) => {
      import s.implicits._
      val joined = SpatialJoin.join(s, customerPts(s, dir), col("lonm"), col("latm"), Derive.rectSpecs)
      val counted = joined.groupBy("poly_id").agg(count(lit(1)).as("n_points"))
      val domain = Derive.rects.map(_._1).toSeq.toDF("poly_id")
      domain.join(counted, Seq("poly_id"), "left")
        .select(col("poly_id"), coalesce(col("n_points"), lit(0L)).as("n_points"))
        .orderBy("poly_id")
    }),
    // ---- O10: salted shuffle-join path — same rows as q01, different plan
    "q09_spatial_join_salted" -> ((s, dir) => {
      SpatialJoin.join(s, customerPts(s, dir), col("lonm"), col("latm"), Derive.rectSpecs,
          broadcastThreshold = 0L, saltBuckets = 4)
        .select("c_custkey", "poly_id")
        .orderBy("c_custkey", "poly_id")
    }),
    // ---- A1: Iceberg-shaped table layer — two-snapshot append + current
    //      read must equal the plain source (snapshot/commit machinery
    //      proven equivalent; time travel + pruning gated in IcebergLiteSpec)
    "q0b_iceberg_scan" -> ((s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q0b").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    }),
    // ---- A1 terminal verb: copy-on-write row-level DELETE — two appends,
    //      then delete-by-predicate producing a third snapshot; the current
    //      read must equal the oracle's anti-filter. Untouched-file reuse +
    //      time travel across the delete are gated in IcebergLiteSpec.
    "q0h_iceberg_delete" -> ((s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q0h").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.deleteWhere(s, tbl, col("c_custkey") % 10 === 3, key)
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    }),
    // ---- A1 layout maintenance: many micro-batch appends → one compaction
    //      rewrite (bin-pack + cluster on the zcell stats key). Rows must be
    //      IDENTICAL to the plain source — compaction changes layout only.
    //      File-count reduction + pruning improvement gated in IcebergLiteSpec.
    "q0m_iceberg_compact" -> ((s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q0m").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      (0 until 6).foreach { i =>
        graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 6 === i), key)
      }
      graft.sources.IcebergLite.compact(s, tbl, targetFileRows = 600L)
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    }),
    // ---- A1 incremental read: rows of data files ADDED between two
    //      snapshots (the downstream-consumer "what arrived since v1" verb).
    //      Three appends split by c_custkey%3; changes v1→v3 = splits 1,2.
    "q72_iceberg_changes" -> ((s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q72").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      (0 until 3).foreach { i =>
        graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 3 === i), key)
      }
      graft.sources.IcebergLite.readChanges(s, tbl, fromVersion = 1)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    }),
    // ---- A1 maintenance: snapshot expiration + orphan-file removal after
    //      a compaction rewrite — history bounded, current rows unchanged
    //      (the oracle is the full row set; IcebergLiteSpec gates the
    //      physical deletes and the retained-window time travel).
    "q73_iceberg_expire" -> ((s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q73").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      (0 until 6).foreach { i =>
        graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 6 === i), key)
      }
      graft.sources.IcebergLite.compact(s, tbl, targetFileRows = 600L)
      graft.sources.IcebergLite.expireSnapshots(tbl, retainLast = 1)
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    }),
    // ---- A1 merge-on-read DELETE (Iceberg v2 equality deletes): the
    //      100 TB point-delete shape — a delete commit writes only the
    //      matched keys (no data-file rewrite; spec-gated), readers
    //      anti-merge at scan time, and compact folds the delete debt.
    //      Read after fold must equal the plain anti-filter.
    "q76_iceberg_mor_delete" -> ((s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q76").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl, col("c_custkey") % 10 === 3, "c_custkey")
      graft.sources.IcebergLite.compact(s, tbl) // folds the delete files
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    }),
    // ---- A1 POSITION delete (Iceberg v2's second delete-file kind): the
    //      predicate runs on a NON-key column (latm), so an equality delete
    //      would first have to materialize keys — the position delete
    //      records (file, row-position) pairs directly. Sequence rule for
    //      free: the re-appended %7==2 evens are byte-identical to deleted
    //      rows yet survive (their file postdates the delete). An equality
    //      delete stacks on top (mixed generations), compact folds both.
    "q7i_iceberg_pos_delete" -> ((s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7i").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts, key)
      graft.sources.IcebergLite.deleteWhereMoRPos(s, tbl, col("c_custkey") % 7 === 2)
      graft.sources.IcebergLite.append(s, tbl,
        pts.where(col("c_custkey") % 7 === 2 && col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl,
        col("c_custkey") % 10 === 5, "c_custkey")
      graft.sources.IcebergLite.compact(s, tbl) // folds both delete kinds
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm").orderBy("c_custkey")
    }),
    // ---- J+A1 streaming WRITE-AUDIT-PUBLISH: micro-batches commit to a
    //      BRANCH (exactly-once, batchId inside each branch snapshot) while
    //      main serves only audited data; main even moves mid-window (MoR
    //      delete of %10==1 odds) and the publish cherry-picks the whole
    //      ingest window — markers carried — in ONE commit.
    "q7k_stream_wap" -> ((s, dir) => {
      import java.nio.file.Files
      val staged = Files.createTempDirectory("graft_q7k_src")
      val tmp = Files.createTempDirectory("graft_q7k_tmp").toString
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"),
          Derive.lonMicro(col("o_orderkey")).as("lonm"),
          Derive.latMicro(col("o_orderkey")).as("latm"))
      orders.where(col("o_orderkey") % 2 === 0).repartition(3)
        .write.parquet(s"$tmp/split")
      new java.io.File(s"$tmp/split").listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          Files.copy(f.toPath, staged.resolve(s"f$i.parquet")) }
      val tbl = Files.createTempDirectory("graft_q7k_tbl").toString
      val ckpt = Files.createTempDirectory("graft_q7k_ck").toString
      val key = col("o_orderkey")
      graft.sources.IcebergLite.append(s, tbl,
        orders.where(col("o_orderkey") % 2 === 1), key) // v1 main: odds
      graft.sources.IcebergLite.createBranch(tbl, "ingest")
      val stream = s.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      val q = stream.writeStream
        .queryName("q7k")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(graft.streaming.EventStream.icebergBranchBatchWriter(
          tbl, "ingest", key, "q7k"))
        .start()
      q.awaitTermination()
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl,
        col("o_orderkey") % 10 === 1, "o_orderkey") // main moves mid-audit
      graft.sources.IcebergLite.publishBranch(tbl, "ingest") // cherry-pick
      graft.sources.IcebergLite.read(s, tbl)
        .select("o_orderkey", "lonm").orderBy("o_orderkey")
    }),
    // ---- A1 layout migration: Z-ORDER SORT REWRITE + file-skipping bbox
    //      scan (Iceberg's rewrite_data_files strategy=sort, zorder(lon,lat)).
    //      Ingest lands round-robin (every file spans ~the whole z-range:
    //      zero skipping possible), one rewriteClustered re-sorts the table
    //      on the Morton z-key, then a bbox query plans from the MANIFEST:
    //      pruneRead keeps only files whose [min,max] z-range meets the
    //      bbox's cover cells — the scan never opens the rest. require()
    //      proves skipping actually happened; values oracle against the
    //      plain bbox filter. Skip-ratio scaling gated in IcebergLiteSpec.
    "q7l_zorder_prune" -> ((s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7l").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 8)
      graft.sources.IcebergLite.append(s, tbl, pts.repartition(8), key)
      graft.sources.IcebergLite.rewriteClustered(s, tbl, key, targetFileRows = 256L)
      val bbox = graft.core.BBoxM(10000000L, 5000000L, 80000000L, 60000000L)
      val cells = graft.core.ZGrid.bboxCells(8, bbox)
        .map { case (x, y) => graft.core.Morton.encode(x, y) }.toSet
      val (scan, kept, total) = graft.sources.IcebergLite.pruneRead(s, tbl, cells)
      require(kept < total, s"z-order pruning must skip files (kept=$kept of $total)")
      scan.where(col("lonm").between(10000000L, 80000000L) &&
                 col("latm").between(5000000L, 60000000L))
        .agg(count(lit(1)).as("n_pts"), sum(col("c_custkey")).as("sum_key"))
    }),
    // ---- A1 replication: incremental table-to-table SYNC (Iceberg
    //      streaming read + exactly-once sink): bootstrap full snapshot,
    //      then ship only appended files; the consumed source version is
    //      the stream marker INSIDE each destination commit, so the replay
    //      call between syncs is a provable no-op (a double-apply would
    //      double rows and fail the oracle hash).
    "q7n_incremental_sync" -> ((s, dir) => {
      val src = java.nio.file.Files.createTempDirectory("graft_iclite_q7n_src").toString
      val dst = java.nio.file.Files.createTempDirectory("graft_iclite_q7n_dst").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, src, pts.where(col("c_custkey") % 3 === 0), key)
      graft.sources.IcebergLite.append(s, src, pts.where(col("c_custkey") % 3 === 1), key)
      graft.sources.IcebergLite.syncIncremental(s, src, dst, key, "rep") // bootstrap
      graft.sources.IcebergLite.syncIncremental(s, src, dst, key, "rep") // replay no-op
      graft.sources.IcebergLite.append(s, src, pts.where(col("c_custkey") % 3 === 2), key)
      graft.sources.IcebergLite.syncIncremental(s, src, dst, key, "rep") // increment
      graft.sources.IcebergLite.read(s, dst)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    }),
    // ---- A1 CDC MIRROR: full replication incl. MoR deletes, applied IN
    //      VERSION ORDER (delete-then-re-append must survive — a naive
    //      all-inserts-then-all-deletes replay fails this exact workload).
    //      Bootstrap after v1, then the walk applies append/delete/append/
    //      delete/re-append; mirror read == source read == oracle.
    "q7s_cdc_mirror" -> ((s, dir) => {
      val src = java.nio.file.Files.createTempDirectory("graft_iclite_q7s_src").toString
      val dst = java.nio.file.Files.createTempDirectory("graft_iclite_q7s_dst").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      val I = graft.sources.IcebergLite
      I.append(s, src, pts.where(col("c_custkey") % 2 === 1), key)      // v1 odds
      I.syncCdcMirror(s, src, dst, key, "cdc")                          // bootstrap
      I.deleteWhereMoR(s, src, col("c_custkey") % 10 === 1, "c_custkey") // v2
      I.append(s, src, pts.where(col("c_custkey") % 2 === 0), key)      // v3 evens
      I.deleteWhereMoR(s, src, col("c_custkey") % 10 === 2, "c_custkey") // v4
      I.append(s, src, pts.where(col("c_custkey") % 10 === 1), key)     // v5 re-append
      I.syncCdcMirror(s, src, dst, key, "cdc")                          // walk v2..v5
      I.syncCdcMirror(s, src, dst, key, "cdc")                          // replay no-op
      I.read(s, dst).select("c_custkey", "lonm").orderBy("c_custkey")
    }),
    // ---- C2/H4 dissolve: UNION area of overlapping footprints per zone
    //      (clipAreaJoin's sum double-counts overlap; "built-up area per
    //      district" needs the union). Zone-clip → disjoint-cell tiling
    //      (union area additive across cells) → per-(zone,cell) strip
    //      sweep → one sum. Oracle: an independent DuckDB derivation —
    //      per-zone strip decomposition with window-function
    //      gaps-and-islands y-interval union.
    "q7r_union_area" -> ((s, dir) => {
      val k = col("c_custkey")
      val feats = s.read.parquet(s"$dir/customer.parquet").select(
        (Derive.lonMicro(k) - (k * 6101L) % 1500001L).as("flo"),
        (Derive.latMicro(k) - (k * 9203L) % 1500001L).as("fla"),
        (Derive.lonMicro(k) + (k * 6101L) % 1500001L).as("fhi"),
        (Derive.latMicro(k) + (k * 9203L) % 1500001L).as("fha"))
      SpatialJoin.unionAreaJoin(s, feats, col("flo"), col("fla"),
          col("fhi"), col("fha"), Derive.rects.toSeq)
        .orderBy("poly_id")
    }),
    // ---- MAP MATCHING: snap each point to its nearest segment within a
    //      radius ("attach a GPS fix / photo location to the road
    //      network"). Candidates via radius-expanded segment cover cells —
    //      no broadcast, no all-pairs; the per-pair point-to-segment kernel
    //      is a fixed IEEE double chain the oracle reproduces bit-for-bit;
    //      argmin = min(struct(⌊d²⌋, seg_id)) with the id tie-break.
    "q7t_map_match" -> ((s, dir) => {
      val k = col("o_orderkey")
      val segs = s.read.parquet(s"$dir/orders.parquet").select(k.as("sid"),
        Derive.lonMicro(k).as("x1"), Derive.latMicro(k).as("y1"),
        (Derive.lonMicro(k) + (k * 7919L) % 2000001L - 1000000L).as("x2"),
        (Derive.latMicro(k) + (k * 104729L) % 2000001L - 1000000L).as("y2"))
      MapMatch.snapToSegments(s, customerPts(s, dir), col("c_custkey"),
          col("lonm"), col("latm"), segs, col("sid"),
          col("x1"), col("y1"), col("x2"), col("y2"),
          radiusMicro = 1500000L, level = 8)
        .orderBy("qid")
    }),
    // ---- VECTOR→RASTER: inverse-distance-weighted interpolation of a
    //      point attribute onto the world grid (Shepard p=2), exact
    //      integer weights scale div (d²+1) — every cell value is an
    //      engine-invariant int64. Bounded per-point cell explode, one
    //      partial-sum hash aggregate; the oracle derives the same raster
    //      from the full grid × points-in-radius join.
    "q7v_idw_grid" -> ((s, dir) => {
      val pts = customerPts(s, dir)
        .withColumn("v", col("c_custkey") % 1000L)
      operators.GridRaster.idwGrid(pts, col("lonm"), col("latm"), col("v"),
          cellMicro = 4000000L, radiusMicro = 5000000L)
        .orderBy("cx", "cy")
    }),
    // ---- RASTER smoothing: per-cell point counts convolved with the 3×3
    //      binomial kernel (zero-padded world edge) — the density heatmap
    //      every tile server renders. Points collapse to raster size in
    //      exchange one; the convolution is a 9-way explode of CELLS, not
    //      points.
    "q7w_heatmap" -> ((s, dir) => {
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        Derive.lonMicro(col("o_orderkey")).as("lonm"),
        Derive.latMicro(col("o_orderkey")).as("latm"))
      operators.GridRaster.heatmap(pts, col("lonm"), col("latm"),
          cellMicro = 2000000L)
        .orderBy("cx", "cy")
    }),
    // ---- POLYLINE SIMPLIFICATION (Douglas–Peucker 1973): drop interior
    //      vertices within eps of the chord, deterministically (split at
    //      max ⌊d²⌋, lowest-idx tie, strict >). One geometry-assembly hash
    //      aggregate, then map-only; the per-vertex kernel is the q7t fixed
    //      IEEE chain, so a DuckDB recursive CTE replays the WHOLE
    //      recursion bit-for-bit.
    "q7z_simplify" -> ((s, dir) => {
      val verts = s.read.parquet(s"$dir/customer.parquet").select(
        expr("(c_custkey - 1) div 10").as("doc"),
        expr("(c_custkey - 1) % 10").as("i"),
        expr("((c_custkey - 1) % 10) * 1000000").as("x"),
        expr("(c_custkey * 2654435761) % 10000001 - 5000000").as("y"))
      operators.Simplify.douglasPeucker(s, verts, col("doc"), col("i"),
          col("x"), col("y"), epsMicro = 1200000L)
        .orderBy("doc_id", "idx")
    }),
    // ---- RASTER→VECTOR polygonize: threshold the density raster into a
    //      binary mask and return one row per 4-connected region (GDAL
    //      polygonize) — the inverse of q7v/q7w's vector→raster ops.
    //      Points collapse to raster size in exchange one; components via
    //      the pointer-doubling min-label kernel; region id = min cell.
    "q7y_polygonize" -> ((s, dir) => {
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        Derive.lonMicro(col("o_orderkey")).as("lonm"),
        Derive.latMicro(col("o_orderkey")).as("latm"))
      operators.GridRaster.polygonize(pts, col("lonm"), col("latm"),
          cellMicro = 4000000L, minCount = 4L)
        .orderBy("rx", "ry")
    }),
    // ---- GEO-SCOPED image near-dup: pairs that are BOTH perceptual
    //      near-dups (phash hamming ≤ 1) AND spatially close ("same scene
    //      re-uploaded"). Spatial cell blocking replaces corpus-wide hash
    //      banding — exact hamming, exchange ∝ co-located pairs. The
    //      fixture makes BOTH gates bite: groups of 4 share a location
    //      cluster, groups of 8 share a phash family, and within a group
    //      only xor-popcount ≤ 1 id pairs survive.
    "q7u_geo_neardup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"),
        (Derive.lonMicro(expr("doc_id div 4") * 31L + 7L) +
          (col("doc_id") % 4) * 400000L).as("lon"),
        (Derive.latMicro(expr("doc_id div 4") * 17L + 3L) +
          (col("doc_id") % 4) * 300000L).as("lat"),
        graft.functions.TextFunctions.charHash64(expr("cast(doc_id div 8 as string)"))
          .bitwiseXOR(col("doc_id") % 8).as("ph"))
      Dedup.geoHammingPairs(docs, col("doc_id"), col("lon"), col("lat"),
          col("ph"), radiusMicro = 2000000L, level = 9, maxDist = 1)
        .orderBy("id_a", "id_b")
    }),
    // ---- SEGMENT-INTERSECTION join: all (road, river)-style pairs whose
    //      segments share a point, decided in PURE int64 (4-orientation
    //      test — zero float on the predicate path); proper crossings also
    //      carry the ⌊crossing point⌋ via a fixed IEEE chain the oracle
    //      reproduces bit-for-bit. Cover-cell equi-join; each pair produced
    //      EXACTLY once in the canonical cell of its bbox-overlap corner
    //      (Dittrich–Seeger reference point) — no dedup exchange.
    "q7x_seg_intersect" -> ((s, dir) => {
      val pk = col("p_partkey"); val ck = col("c_custkey")
      val roads = s.read.parquet(s"$dir/part.parquet").select(pk.as("aid"),
        Derive.lonMicro(pk).as("x1"), Derive.latMicro(pk).as("y1"),
        (Derive.lonMicro(pk) + (pk * 7919L) % 20000001L - 10000000L).as("x2"),
        (Derive.latMicro(pk) + (pk * 104729L) % 20000001L - 10000000L).as("y2"))
      val rivers = s.read.parquet(s"$dir/customer.parquet").select(ck.as("bid"),
        Derive.lonMicro(ck).as("x1"), Derive.latMicro(ck).as("y1"),
        (Derive.lonMicro(ck) + (ck * 40503L) % 20000001L - 10000000L).as("x2"),
        (Derive.latMicro(ck) + (ck * 65537L) % 20000001L - 10000000L).as("y2"))
      operators.LineIntersect.intersectJoin(s,
          roads, col("aid"), col("x1"), col("y1"), col("x2"), col("y2"),
          rivers, col("bid"), col("x1"), col("y1"), col("x2"), col("y2"),
          level = 8)
        .orderBy("a_id", "b_id")
    }),
    // ---- FILTERED vector search (FAISS IDSelector semantics): the index
    //      is built filter-agnostic over the whole corpus; an attribute
    //      predicate drops candidates inside the probed-list scan, before
    //      the rank heap. require() proves the filter is EXACT (no
    //      non-matching neighbor escapes); recall bound vs the filtered
    //      exact top-k, same contract as q53.
    "q7q_ivf_filtered" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      val pred = col("vec_id") % 7 === 3
      val ann = Similarity.ivfTopK(s, emb, q, "vec_id", "embedding", k = 10,
        nprobe = 24, lloydRounds = 2, keep = pred)
      require(ann.where(col("nid") % 7 =!= 3).limit(1).count() == 0,
        "filtered ANN returned a non-matching candidate")
      val exact = Similarity.topKL2(emb.where(pred), q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    }),
    // ---- RASTER curation score: exact integer L1 total variation per
    //      image (sharpness/flatness gate), decode-once narrow kernel,
    //      rolled up per dims bucket. Oracle by rule: each differing
    //      adjacent phash-bit block pair contributes 150 × (block edge px).
    "q7o_raster_tv" -> ((s, dir) => {
      operators.Multimodal.rasterTv(Fixtures.images(s, 5000))
        .groupBy("w", "h")
        .agg(count(lit(1)).as("n_images"), sum("tv").as("sum_tv"),
          min("tv").as("min_tv"), max("tv").as("max_tv"))
        .orderBy("w", "h")
    }),
    // ---- Density clustering: grid-partitioned DBSCAN (Ester et al. 1996,
    //      deterministic min-label variant) — dense sites become clusters
    //      labeled by their minimum point id, strays are noise (-1). The
    //      oracle recomputes it with a quadratic neighbor join + recursive
    //      min-propagation CTE; the Spark plan is the eps-grid 3×3 join +
    //      pointer-doubling components (no all-pairs stage).
    "q7m_dbscan" -> ((s, dir) => {
      Dbscan.cluster(customerPts(s, dir), col("c_custkey"), col("lonm"),
          col("latm"), eps = 5000000L, minPts = 3)
        .orderBy("id")
    }),
    // ---- DBSCAN composition — summarize each discovered site: size,
    //      centroid sums, bounding box per cluster (noise excluded). The
    //      downstream verb of density clustering; one extra broadcast-able
    //      join + hash aggregate on top of q7m's labels.
    "q7p_dbscan_summary" -> ((s, dir) => {
      val pts = customerPts(s, dir)
      val labels = Dbscan.cluster(pts, col("c_custkey"), col("lonm"),
        col("latm"), eps = 5000000L, minPts = 3)
      labels.where(col("cluster") =!= -1L)
        .join(pts.withColumnRenamed("c_custkey", "id"), "id")
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_pts"),
          sum("lonm").as("sum_lon"), sum("latm").as("sum_lat"),
          min("lonm").as("min_lon"), max("lonm").as("max_lon"),
          min("latm").as("min_lat"), max("latm").as("max_lat"))
        .orderBy("cluster")
    }),
    // ---- A1 metadata tables: the table's own manifest AS a DataFrame
    //      (Iceberg's table$history) — commit lineage + exact row/delete
    //      counters per version, zero data-file I/O. The verb chain is
    //      append/append/MoR-delete/compact; the oracle recomputes each
    //      version's counters from the raw table.
    "q7j_iceberg_history" -> ((s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7j").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl,
        col("c_custkey") % 10 === 3, "c_custkey")
      graft.sources.IcebergLite.compact(s, tbl)
      graft.sources.IcebergLite.historyTable(s, tbl)
        .select("version", "data_rows", "delete_rows").orderBy("version")
    }),
    // ---- A1 schema evolution: addColumn is a metadata-only commit; files
    //      written before it read back with the column null-backfilled,
    //      files after carry it physically — one scan crosses the
    //      evolution boundary (per-snapshot schema travel spec-gated).
    "q77_iceberg_evolve" -> ((s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q77").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.addColumn(s, tbl, "flag", "BIGINT")
      graft.sources.IcebergLite.append(s, tbl,
        pts.where(col("c_custkey") % 2 === 1).withColumn("flag", col("c_custkey") % 5), key)
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm", "flag").orderBy("c_custkey")
    }),
    // ---- A1 full schema-evolution verb set: RENAME (old files read-mapped
    //      via the col-op ledger, zero data files touched), DROP, and
    //      re-ADD of a dropped name (pre-re-add files read NULL — dropped
    //      data never resurrects, the Iceberg field-id rule). The output
    //      mixes all three epochs in one scan.
    "q80_iceberg_rename" -> ((s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q80").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      val I = graft.sources.IcebergLite
      // epoch 1: evens, columns (c_custkey, lonm, latm)
      I.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      I.renameColumn(s, tbl, "lonm", "lon_micro")
      I.dropColumn(s, tbl, "latm")
      // epoch 2: odds %4==1 under the renamed/narrowed schema
      I.append(s, tbl, pts.where(col("c_custkey") % 4 === 1)
        .withColumnRenamed("lonm", "lon_micro").drop("latm"), col("lon_micro"))
      // re-add the dropped name: epoch-1 files must read it as NULL
      I.addColumn(s, tbl, "latm", "BIGINT")
      // epoch 3: odds %4==3 with real latm values again
      I.append(s, tbl, pts.where(col("c_custkey") % 4 === 3)
        .withColumnRenamed("lonm", "lon_micro"), col("lon_micro"))
      I.read(s, tbl).select("c_custkey", "lon_micro", "latm").orderBy("c_custkey")
    }),
    // ---- A1 CHANGELOG scan (CDC): inserts from window-appended files +
    //      full-content delete rows restored from the pre-delete snapshot
    //      (version d.seq−1 ⋉ delete keys). from=v1 here, so the odd-key
    //      append is the insert set and EVERY %10==3 row (evens included —
    //      they predate the window) is a delete event; odd %10==3 rows
    //      emit BOTH events, the standard changelog double-event contract.
    "q7c_iceberg_cdc" -> ((s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7c").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl, col("c_custkey") % 10 === 3, "c_custkey")
      graft.sources.IcebergLite.readChangesCdc(s, tbl, 1)
        .select("c_custkey", "lonm", "_change_type")
        .orderBy("c_custkey", "_change_type")
    }),
    // ---- A1 ROLLBACK verb: a bad MoR delete (%10==3) is undone by
    //      rollbackTo(v2) — a pure metadata commit restoring v2's exact
    //      file/delete/schema state — then writes continue on the restored
    //      line (a correct MoR delete of %10==7). Read = all customers
    //      minus %10==7: the undone delete leaves NO trace, the new one
    //      applies. Timestamp travel + no-data-file-writes are spec-gated.
    "q7e_iceberg_rollback" -> ((s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7e").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl, col("c_custkey") % 10 === 3, "c_custkey")
      graft.sources.IcebergLite.rollbackTo(tbl, 2)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl, col("c_custkey") % 10 === 7, "c_custkey")
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm").orderBy("c_custkey")
    }),
    // ---- A1 WRITE-AUDIT-PUBLISH: the 100 TB ingestion audit gate. Odd
    //      customers are STAGED (invisible to the table), audited by
    //      version, then published by fast-forward; a second stage (every
    //      11th customer cloned under key+1000000) publishes by CHERRY-PICK
    //      because main moved during its audit (a MoR delete of %10==3).
    //      Cherry-picked files re-sequence AFTER the delete, so no clone
    //      loses rows to it — and the delete keys were collected before the
    //      clones existed, so the final table is (all customers − %10==3)
    //      + all clones. Stage-invisibility, pointer-only fast-forward, and
    //      the schema/append-only cherry-pick guards are spec-gated.
    "q7f_iceberg_wap" -> ((s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7f").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      val st1 = graft.sources.IcebergLite.stageAppend(s, tbl,
        pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.publish(tbl, st1) // fast-forward
      val st2 = graft.sources.IcebergLite.stageAppend(s, tbl,
        pts.where(col("c_custkey") % 11 === 0)
          .withColumn("c_custkey", col("c_custkey") + 1000000L), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl,
        col("c_custkey") % 10 === 3, "c_custkey") // main moves mid-audit
      graft.sources.IcebergLite.publish(tbl, st2) // cherry-pick
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm").orderBy("c_custkey")
    }),
    // ---- A1 TAG: the reproducible-training-corpus pin. Even customers
    //      land in v1 and get tagged "train-v1"; the table then moves on
    //      (odd append, MoR delete, compact fold) and old snapshots are
    //      expired with retainLast=1 — yet the tag still reads EXACTLY the
    //      v1 corpus, because expiration never reclaims a ref target.
    "q7g_iceberg_tag" -> ((s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7g").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.tag(tbl, "train-v1")
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl,
        col("c_custkey") % 10 === 3, "c_custkey")
      graft.sources.IcebergLite.compact(s, tbl)
      graft.sources.IcebergLite.expireSnapshots(tbl, retainLast = 1)
      graft.sources.IcebergLite.readTag(s, tbl, "train-v1")
        .select("c_custkey", "lonm").orderBy("c_custkey")
    }),
    // ---- A1 BRANCH: multi-commit write-audit-publish. Base = evens;
    //      branch "ingest" appends odds, then RE-APPENDS the %10==4 evens
    //      (same keys); main moves mid-audit with a MoR delete of %10==4.
    //      publishBranch cherry-picks BOTH branch commits re-sequenced
    //      AFTER the delete, so the re-appended rows survive it — the
    //      final table is exactly all customers, each once.
    "q7h_iceberg_branch" -> ((s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7h").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.createBranch(tbl, "ingest")
      graft.sources.IcebergLite.appendToBranch(s, tbl, "ingest",
        pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.appendToBranch(s, tbl, "ingest",
        pts.where(col("c_custkey") % 10 === 4), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl,
        col("c_custkey") % 10 === 4, "c_custkey") // main moves mid-audit
      graft.sources.IcebergLite.publishBranch(tbl, "ingest") // cherry-pick
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm").orderBy("c_custkey")
    }),
    // ---- A1 upsert verb: copy-on-write MERGE — updates shift lon for every
    //      7th customer, inserts clone every 11th under a shifted key; only
    //      files holding matched keys rewrite (gated in IcebergLiteSpec).
    "q0n_iceberg_merge" -> ((s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q0n").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      val upserts = pts.where(col("c_custkey") % 7 === 0)
          .withColumn("lonm", col("lonm") + 1000L)
        .unionByName(pts.where(col("c_custkey") % 11 === 0)
          .withColumn("c_custkey", col("c_custkey") + 1000000L))
      graft.sources.IcebergLite.merge(s, tbl, upserts, "c_custkey", key)
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    }),
    // ---- raster tile pyramid: per-tile counts rolled up the zoom stack —
    //      a z-order parent is a plain right-shift (each zoom level drops
    //      2 interleaved bits), so the pyramid is three shifted groupBys,
    //      no geometry re-processing (SURVEY.md O8 payoff)
    "q0c_tile_pyramid" -> ((s, dir) => {
      val pts = customerPts(s, dir)
        .select(zcell(col("lonm"), col("latm"), 12).as("c12"))
      val levels = Seq(12, 10, 8).map { z =>
        pts.groupBy(shiftright(col("c12"), 2 * (12 - z)).as("cell"))
          .agg(count(lit(1)).as("n"))
          .select(lit(z).as("z"), col("cell"), col("n"))
      }
      levels.reduce(_ union _).orderBy("z", "cell")
    }),
    // ---- range/radius join: cell cover + exact integer distance filter
    "q0a_radius_join" -> ((s, dir) => {
      val nation = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey"),
          Derive.lonMicro(col("n_nationkey")).as("lonm"),
          Derive.latMicro(col("n_nationkey")).as("latm"))
        .collect().map(r => Knn.QueryPt(r.getAs[Number](0).longValue(),
          r.getAs[Number](1).longValue(), r.getAs[Number](2).longValue()))
      Knn.radiusJoin(s, customerPts(s, dir), col("c_custkey"), col("lonm"), col("latm"),
          nation.toSeq, radiusMicro = 15000000L, level = 5)
        .orderBy("qid", "neighbor_id")
    }),
    // ---- geodesic (haversine) radius join — real-world meters on the
    //      sphere (the planar metric narrows E-W radii by cos(lat) at high
    //      latitude). ORACLED: DuckDB evaluates the same haversine formula;
    //      output carries ids only, and the fixture's closest distance to
    //      the radius boundary is ~km (probed in KnnSpec), so last-ulp libm
    //      sin/cos differences between engines cannot flip a row.
    "q0i_radius_haversine" -> ((s, dir) => {
      val nation = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey").cast("long").as("qid"),
          Derive.lonMicro(col("n_nationkey")).as("lonm"),
          Derive.latMicro(col("n_nationkey")).as("latm"))
      Knn.radiusJoinDf(s, customerPts(s, dir), col("c_custkey"), col("lonm"), col("latm"),
          nation, col("qid"), col("lonm"), col("latm"),
          level = 5, metric = "haversine", radiusMeters = 1500000.0)
        .select("qid", "neighbor_id").orderBy("qid", "neighbor_id")
    }),
    // ---- B1: areaOfInterest bbox pre-filter (pushdown-friendly predicate)
    "q05_aoi_bbox" -> ((s, dir) => {
      customerPts(s, dir)
        .where(col("lonm").between(40000000L, 80000000L) && col("latm").between(0L, 40000000L))
        .select("c_custkey").orderBy("c_custkey")
    }),
    // ---- B1 at the antimeridian: lonMin > lonMax crosses ±180 and the
    //      predicate becomes the OR of the two halves (Fiji/Chukotka AOIs)
    "q0j_aoi_seam" -> ((s, dir) => {
      customerPts(s, dir)
        .where(SpatialJoin.aoiBbox(col("lonm"), col("latm"),
          graft.core.BBoxM(165000000L, 0L, -165000000L, 40000000L)))
        .select("c_custkey").orderBy("c_custkey")
    }),
    // ---- C2 at the antimeridian: a polygon authored ACROSS ±180 (extended
    //      lon) splits into two in-world halves and runs the SAME generic
    //      cover-join + raycast path; oracle is the two-range rect algebra
    "q0k_seam_join" -> ((s, dir) => {
      SpatialJoin.join(s, customerPts(s, dir), col("lonm"), col("latm"), Derive.seamSpecs)
        .select("c_custkey", "poly_id")
        .orderBy("c_custkey", "poly_id")
    }),
    // ---- D1/D12: count with nested (two-level) index
    "q10_count_nested" -> ((s, dir) => {
      Reducer.on(s.read.parquet(s"$dir/lineitem.parquet"))
        .aggregateBy("l_returnflag", col("l_returnflag"))
        .aggregateBy("l_linestatus", col("l_linestatus"))
        .count("cnt").orderBy("l_returnflag", "l_linestatus")
    }),
    // ---- D2: sum (exact decimal accumulation → double)
    "q11_sum" -> ((s, dir) => {
      Reducer.on(s.read.parquet(s"$dir/lineitem.parquet"))
        .aggregateBy("l_returnflag", col("l_returnflag"))
        .sum(col("l_quantity"), "sum_qty").orderBy("l_returnflag")
    }),
    // ---- D3: average
    "q12_avg" -> ((s, dir) => {
      Reducer.on(s.read.parquet(s"$dir/lineitem.parquet"))
        .aggregateBy("l_returnflag", col("l_returnflag"))
        .average(col("l_quantity"), "avg_qty").orderBy("l_returnflag")
    }),
    // ---- D4: weighted average (Σwx/Σw)
    "q13_weighted_avg" -> ((s, dir) => {
      Reducer.on(s.read.parquet(s"$dir/lineitem.parquet"))
        .aggregateBy("l_returnflag", col("l_returnflag"))
        .weightedAverage(col("l_extendedprice"), col("l_quantity"), "wavg_price")
        .orderBy("l_returnflag")
    }),
    // ---- D5: uniq (exact distinct set, surfaced as rows)
    "q14_uniq" -> ((s, dir) => {
      Reducer.on(s.read.parquet(s"$dir/orders.parquet"))
        .aggregateBy("o_orderstatus", col("o_orderstatus"))
        .uniq(col("o_orderpriority"), "priority")
        .orderBy("o_orderstatus", "priority")
    }),
    // ---- D6: countUniq (exact distinct count)
    "q15_count_uniq" -> ((s, dir) => {
      Reducer.on(s.read.parquet(s"$dir/lineitem.parquet"))
        .aggregateBy("l_returnflag", col("l_returnflag"))
        .countUniq(col("l_partkey"), "n_parts").orderBy("l_returnflag")
    }),
    // ---- D9+zerofill: timestamp-keyed count with empty buckets filled
    "q16_zerofill_month" -> ((s, dir) => {
      val fo = s.read.parquet(s"$dir/orders.parquet").where(col("o_orderkey") % 97 === 0)
      val r = Reducer.on(fo).aggregateByTimestamp("month", col("o_orderdate"), "month")
      val counted = r.count("cnt")
      val domain = fo.agg(date_trunc("month", min("o_orderdate")).as("lo"),
          date_trunc("month", max("o_orderdate")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 month"))).as("m"))
        .select(date_format(col("m"), "yyyy-MM-dd HH:mm:ss").as("month"))
      r.zerofill(counted, domain, Map("cnt" -> lit(0L))).orderBy("month")
    }),
    // ---- D-extra: hierarchical rollup (grouping sets — free via Catalyst,
    //      noted in SURVEY §2.D; exposed for completeness)
    "q23_rollup" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"), col("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    // ---- D7: exact quantiles (reference: estimatedMedian/Quantiles via t-digest)
    "q17_quantiles" -> ((s, dir) => {
      Reducer.on(s.read.parquet(s"$dir/lineitem.parquet"))
        .aggregateBy("l_returnflag", col("l_returnflag"))
        .quantile(col("l_quantity"), 0.5, "median_qty").orderBy("l_returnflag")
    }),
    // ---- D7 plural: estimatedQuantiles(qs) — exact multi-quantile list
    "q22_quantiles_multi" -> ((s, dir) => {
      // Flat double columns (not an array) — the driver's pandas hasher
      // can't sort array cells (round-1 q22 err).
      Reducer.on(s.read.parquet(s"$dir/lineitem.parquet"))
        .aggregateBy("l_returnflag", col("l_returnflag"))
        .quantiles(col("l_quantity"), Seq(0.25, 0.5, 0.75), "qs")
        .select(col("l_returnflag"),
          element_at(col("qs"), 1).as("q25"),
          element_at(col("qs"), 2).as("q50"),
          element_at(col("qs"), 3).as("q75"))
        .orderBy("l_returnflag")
    }),
    // ---- D7 at scale: mergeable KLL quantile sketch. ORACLED via a
    //      driver-checkable rank bound: the estimate's EXACT rank (computed
    //      in Spark over the same data) must sit within 0.5 ± 0.02 — the
    //      KLL k=200 guarantee KllSpec gates; the oracle recomputes n and
    //      asserts the same boolean, so a sketch drifting out of its
    //      guarantee turns this row red at the driver.
    "q24_sketch_quantile" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val est = Reducer.on(li)
        .aggregateBy("l_returnflag", col("l_returnflag"))
        .sketchQuantile(col("l_quantity"), 0.5, "median_est")
      li.join(broadcast(est), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("l_quantity") < col("median_est"), 1L).otherwise(0L)).as("_lt"),
          sum(when(col("l_quantity") <= col("median_est"), 1L).otherwise(0L)).as("_le"))
        .select(col("l_returnflag"), col("n_rows"),
          (col("_le").cast("double") >= lit(0.48) * col("n_rows").cast("double") &&
           col("_lt").cast("double") <= lit(0.52) * col("n_rows").cast("double"))
            .as("within_bound"))
        .orderBy("l_returnflag")
    }),
    // ---- C3: as-of join — entity state valid at each snapshot timestamp
    "q18_snapshot_asof" -> ((s, dir) => {
      import s.implicits._
      val snaps = snapTimes.toDF("snap_ts")
      val ev = s.read.parquet(s"$dir/events.parquet")
      val w = Window.partitionBy("snap_ts", "user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      ev.join(snaps, col("ts") <= to_timestamp(col("snap_ts")))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("snap_ts"), col("user_id"), col("value").as("last_value"))
        .orderBy("snap_ts", "user_id")
    }),
    // ---- C3 general form: interval × instant temporal join (entity
    //      validity containment) via time-bin bucketing — equi-join on bin,
    //      exact epoch-second containment filter, no dedupe needed
    "q33_interval_join" -> ((s, dir) => {
      import s.implicits._
      val ev = s.read.parquet(s"$dir/events.parquet")
      val intervals = ev.select(col("event_id"), col("ts").as("t_start"),
        // deterministic validity length: 1..7 hours by event id
        (col("ts").cast("timestamp").cast("long") + (col("event_id") % 7 + 1) * 3600L)
          .cast("timestamp").as("t_end"))
      val snaps = snapTimes.toDF("snap_ts")
        .withColumn("snap", to_timestamp(col("snap_ts")))
      graft.operators.TemporalJoin.intervalInstantJoin(
          intervals, col("t_start"), col("t_end"), snaps, col("snap"))
        .select(col("snap_ts"), col("event_id"))
        .orderBy("snap_ts", "event_id")
    }),
    // ---- interval × interval overlap join (bin bucketing, first-shared-bin
    //      dedupe-free emission)
    "q35_interval_overlap" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("user_id") % 20 === 0)
      def ivs(par: Int) = ev.where(col("event_id") % 2 === par)
        .select(col("event_id"), col("ts").as("t_start"),
          (col("ts").cast("timestamp").cast("long") + (col("event_id") % 7 + 1) * 3600L)
            .cast("timestamp").as("t_end"))
      graft.operators.TemporalJoin.intervalOverlapJoin(
          ivs(0).withColumnRenamed("event_id", "id_a"), col("t_start"), col("t_end"),
          ivs(1).withColumnRenamed("event_id", "id_b"),
          col("t_start"), col("t_end"))
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }),
    // ---- E: gap-based sessionization (30-min inactivity ends a session)
    "q20_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("gap",
          when(col("ts").cast("timestamp").cast("long") - lag(col("ts").cast("timestamp").cast("long"), 1).over(w) > 1800, 1)
            .otherwise(0))
        .withColumn("session_idx", sum("gap").over(
          Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"), min("ts").as("t_start"), max("ts").as("t_end"))
        .withColumn("session_idx", col("session_idx").cast("long"))
        .orderBy("user_id", "session_idx")
    }),
    // ---- B7: groupByEntity — full ordered history per entity as one row
    "q21_group_entity" -> ((s, dir) => {
      // groupByEntity then explode back to one row per version: the driver's
      // pandas hasher can't handle array cells (round-1 q21 err), and the
      // exploded form still exercises the collect→sort→per-entity kernel.
      s.read.parquet(s"$dir/events.parquet")
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("ts"), col("event_id"), col("value"))))
          .as("history"))
        .select(col("user_id"), size(col("history")).as("n_versions"),
          posexplode(col("history").getField("value")))
        .select(col("user_id"), col("n_versions"),
          (col("pos") + 1).cast("long").as("version_idx"), col("col").as("value"))
        .orderBy("user_id", "version_idx")
    }),
    // ---- B5: filter DSL compiled to Catalyst Columns (pushdown for free)
    "q30_filter_dsl" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.where(graft.filter.FilterDsl.toColumn(
          "l_returnflag=R and l_quantity:(10..30) and not l_linestatus=F", li.schema))
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "q31_filter_dsl_in" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      o.where(graft.filter.FilterDsl.toColumn(
          "o_orderpriority in (1-URGENT, 2-HIGH) and o_orderstatus=* and o_totalprice:(100000..)", o.schema))
        .select("o_orderkey").orderBy("o_orderkey")
    }),
    // ---- A4: broadcast tag dictionary (keytables / TagTranslator role) —
    //      strings → dense ids at the boundary, aggregate on ints, decode at
    //      the end; ids reproducible (sorted-value order)
    "q32_tag_dictionary" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val dict = graft.sources.TagDictionary.build(o, col("o_orderpriority"))
      val agg = graft.sources.TagDictionary.encode(o, col("o_orderpriority"), dict)
        .groupBy("tag_id").agg(count(lit(1)).as("n_orders"))
      graft.sources.TagDictionary.decode(agg, col("tag_id"), dict)
        .select("tag_id", "tag", "n_orders").orderBy("tag_id")
    }),
    // ==== Training-data pipeline ops (documents / embeddings tables) ====
    // ---- token counting: whitespace + word-piece regex
    "q40_token_counts" -> ((s, dir) => {
      TextAnalysis.tokenCounts(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text")).orderBy("doc_id")
    }),
    // ---- language-ID (marker-token heuristic, deterministic argmax)
    "q41_lang_id" -> ((s, dir) => {
      TextAnalysis.langId(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text")).orderBy("doc_id")
    }),
    // ---- document fingerprinting (rolling hash + min-shingle)
    "q42_fingerprints" -> ((s, dir) => {
      TextAnalysis.fingerprints(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text")).orderBy("doc_id")
    }),
    // ---- exact dedup by content hash
    "q43_exact_dedup" -> ((s, dir) => {
      Dedup.exactDedup(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text")).orderBy("text_hash")
    }),
    // ---- exact n-gram Jaccard near-dup pairs (shingle-explode join)
    "q44_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text"), n = 3, threshold = 0.5).orderBy("id_a", "id_b")
    }),
    // ---- incremental-ingestion near-dedup: new batch (odd doc ids) vs
    //      existing corpus (even ids) — cross-set MinHash-LSH, exact-verified.
    //      16x2 banding for the same recall-by-construction reason as q45.
    "q69_cross_dedup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Dedup.minhashLshPairsCross(
        docs.where(col("doc_id") % 2 === 1), col("doc_id"), col("text"),
        docs.where(col("doc_id") % 2 === 0), col("doc_id"), col("text"),
        n = 3, threshold = 0.5, bands = 16).orderBy("id_a", "id_b")
    }),
    // ---- eval-set decontamination: corpus docs sharing >= minHits distinct
    //      3-gram shingles with any benchmark doc (benchmark = doc_id % 50
    //      == 0 split of the same table so the oracle can re-derive it).
    //      Broadcast the bench shingles; corpus never shuffles, only hits do.
    "q65_decontaminate" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Dedup.decontaminate(
        docs.where(col("doc_id") % 50 =!= 0), col("doc_id"), col("text"),
        docs.where(col("doc_id") % 50 === 0), col("doc_id"), col("text"),
        n = 3, minHits = 3).orderBy("doc_id", "bench_id")
    }),
    // ---- SUBSTRING-level exact dedup (Lee et al. 2022): per-doc merged
    //      dup-span stats over 8-token windows, first occurrence survives.
    //      Detection is one hash-aggregate over positional window hashes;
    //      only duplicated-window occurrences ever shuffle.
    "q6c_substring_dedup" -> ((s, dir) => {
      Dedup.substringDupSpans(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text"), L = 8).orderBy("doc_id")
    }),
    // ---- the CLEANED corpus from the same operator: dup-span tokens
    //      removed, whitespace normalized (every doc appears).
    "q6d_substring_clean" -> ((s, dir) => {
      Dedup.dedupSubstrings(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text"), L = 8).orderBy("doc_id")
    }),
    // ---- SEGMENT-level keep-first dedup (C4 "dedupe lines, keep one copy"):
    //      consecutive 8-token segments, first (doc_id, seg_no) occurrence
    //      survives corpus-wide, doc rebuilt from kept segments. One
    //      hash-aggregate keeper election + one doc_id reassembly — no
    //      corpus-wide window/sort.
    "q6k_segment_dedup" -> ((s, dir) => {
      Dedup.segmentDedup(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text"), n = 8).orderBy("doc_id")
    }),
    // ---- CCNet-shape LM filtering, train side: bigram model (exact-integer
    //      counts >= 2) trained on the doc_id%10<3 "trusted" split. One
    //      distributed hash-aggregate, state = observed-bigram vocab.
    "q6l_lm_train" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.lmTrain(docs.where(col("doc_id") % 10 < 3), col("text"),
        minCount = 2L).orderBy("lhs", "rhs")
    }),
    // ---- and the corpus-wide score: per-doc bigram coverage against that
    //      model (broadcast), keep at hit_rate >= 0.5. Every doc appears.
    "q6m_lm_score" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = TextAnalysis.lmTrain(docs.where(col("doc_id") % 10 < 3),
        col("text"), minCount = 2L)
      TextAnalysis.lmScore(docs, col("doc_id"), col("text"), model,
        minHitRate = 0.5).orderBy("doc_id")
    }),
    // ---- DSIR-shape importance resampling: hashed-bigram target vs raw
    //      models → int64 fixed-point ratio weights (broadcast) → per-doc
    //      score → deterministic content-addressed keep draw. The
    //      "make the corpus look like the target" verb; every doc appears
    //      with its score + draw + decision. Integer-exact end to end.
    "q6y_importance_resample" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.importanceResample(docs, col("doc_id"), col("text"),
          docs.where(col("doc_id") % 7 === 0), col("text"),
          numBuckets = 4096, tau = 2)
        .orderBy("doc_id")
    }),
    // ---- per-source cap (the "domain cap" rule): keep <= 20 docs per
    //      source in content-addressed hash order — bounded-heap aggregate,
    //      no window sort, skew-immune by construction.
    "q6n_group_cap" -> ((s, dir) => {
      TextAnalysis.groupCap(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("source"), cap = 20, salt = "q6n")
        .orderBy("grp", "rk")
    }),
    // ---- Bloom-filter approximate anti-join bound row: corpus =
    //      doc_id%10<8 split, batch = all docs; the bucketed mergeable
    //      filter (16 bits/key, k=7) marks definitely-new rows. Emits the
    //      driver-checkable contract — zero false negatives (bloom
    //      soundness) and FP withholding <= 5% of the truly-new set — plus
    //      exact counts the oracle recomputes. The exact-membership twin
    //      here is the verification fixture, not the production path (the
    //      verb itself never joins the corpus).
    "q6o_bloom_new" -> ((s, dir) => {
      import graft.functions.TextFunctions.charHash64
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val corpus = docs.where(col("doc_id") % 10 < 8)
      val defNew = Dedup.bloomNew(corpus, col("text"),
        docs, col("doc_id"), col("text"), expectedCorpusKeys = 500L)
      val memberIds = docs.select(col("doc_id"), charHash64(col("text")).as("k"))
        .join(corpus.select(charHash64(col("text")).as("k")).distinct(), Seq("k"),
          "left_semi").select("doc_id")
      val nBatch = docs.count()
      val nMembers = memberIds.count()
      val nTrulyNew = nBatch - nMembers
      val nDefNew = defNew.count()
      val falseNegs = defNew.join(memberIds, Seq("doc_id"), "left_semi").count()
      import s.implicits._
      Seq((nBatch, nMembers, falseNegs == 0L,
        nTrulyNew - nDefNew <= 0.05 * nTrulyNew))
        .toDF("n_batch", "n_members", "no_false_negatives", "fpr_below_bound")
    }),
    // ---- MinHash-LSH near-dup pairs, exact-verified (the 100 TB path).
    //      bands=16 (r=2), NOT the default 8×4: the oracle is exact
    //      brute-force Jaccard and the fixture corpus has pairs down to
    //      J=0.8, where 8×4 misses ~1.5% of candidates — 16×2 brings the
    //      per-pair miss to (1−0.8²)^16 ≈ 8e-8, so exact parity is by
    //      construction, not fixture luck.
    "q45_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashLshPairs(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text"), n = 3, threshold = 0.5, bands = 16)
        .orderBy("id_a", "id_b")
    }),
    // ---- per-doc 62-bit SimHash (two independent 31-bit halves)
    "q46_simhash" -> ((s, dir) => {
      Dedup.simhashDocs(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text")).orderBy("doc_id")
    }),
    // ---- SimHash near-dup pairs, hamming ≤ 3, band pigeonhole (exact recall)
    "q47_simhash_pairs" -> ((s, dir) => {
      Dedup.simhashPairs(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text"), maxDist = 3)
        .withColumn("hamming", col("hamming").cast("int"))
        .orderBy("id_a", "id_b")
    }),
    // ---- image-dedup shape: banded hamming pairs over a PRECOMPUTED long
    //      hash column (pHashes computed once at ingest). The hash here is
    //      integer-derived so the oracle brute-forces the same bits: docs in
    //      the same div-8 group share a charHash64 base, perturbed by the
    //      low-3-bit residue — planted near-dups at hamming 1..3, of which
    //      only <= 2 must survive the verify.
    "q67_phash_neardup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("ph", graft.functions.TextFunctions.charHash64(
            expr("cast(doc_id div 8 as string)"))
          .bitwiseXOR(col("doc_id") % 8))
      Dedup.hammingPairs(docs, col("doc_id"), col("ph"), maxDist = 2, bits = 60)
        .withColumn("hamming", col("hamming").cast("int"))
        .orderBy("id_a", "id_b")
    }),
    // ---- brute-force exact top-k similarity (quantized dot product)
    "q48_embed_topk" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.topKDot(emb, emb.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 10).orderBy("qid", "rank")
    }),
    // ---- ANN via hyperplane LSH. ORACLED via a recall bound: the ANN
    //      result is compared IN SPARK against the exact brute-force top-k
    //      over the same corpus; recall ≥ 0.8 (SimilaritySpec's gate)
    //      becomes a boolean the oracle re-asserts — an ANN regression
    //      turns the row red at the driver.
    "q49_ann_lsh" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      // planes/tables picked by RecallProbe measurement: recall 1.0 (sf0.01)
      // / 0.96 (sf0.1) vs the 0.8 bound — deterministic per SF, real margin
      val ann = Similarity.annTopK(s, emb, q, "vec_id", "embedding", k = 10,
        dims = 64, planes = 4, tables = 24)
      val exact = Similarity.topKDot(emb, q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    }),
    // ---- embedding cosine near-dup pairs (integer-exact comparison)
    "q50_cosine_near_dup" -> ((s, dir) => {
      // Exact broadcast-blocked path (primitive i<j loop, zero pair-row
      // materialization, no cartesian/BNLJ node) — at t=0.45 an exact
      // answer is Θ(n²) dots and LSH candidates provably cost ≥6× more
      // (see Similarity scaladoc); the subquadratic LSH path (q-gated in
      // SimilaritySpec) is for corpus-scale t≥0.8 near-dup.
      Similarity.cosineNearDupPairsExact(s.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", threshold = 0.45).orderBy("id_a", "id_b")
    }),
    // ---- SemDeDup: hash-seeded coarse clusters (oracle-exact seed rule),
    //      within-cluster cosine prune — drop any vector with a lower-id
    //      neighbor at cos >= 0.45 in its cluster; the prune join is equi on
    //      list_id, never all-pairs.
    "q6q_semantic_dedup" -> ((s, dir) => {
      Similarity.semanticDedup(s.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", numLists = 8, threshold = 0.45).orderBy("vec_id")
    }),
    // ---- GPT-style sequence packing manifest: docs concatenated in
    //      content-addressed order (1 EOS each), cut into 512-token
    //      windows; per doc its global offset + first/last sequence.
    //      Global cumsum is the two-pass partition-offset form — no
    //      single-partition window anywhere.
    "q6r_pack_sequences" -> ((s, dir) => {
      TextAnalysis.packSequences(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text"), seqLen = 512, salt = "q6r").orderBy("doc_id")
    }),
    // ---- packed-sequence materialization: the same stream as q6r cut
    //      into 512-token rows; one row per sequence, tokens fingerprinted
    //      in stream order. Text rides the single range exchange; the only
    //      other shuffle is the token→sequence groupBy.
    "q6v_pack_tokens" -> ((s, dir) => {
      TextAnalysis.packTokens(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text"), seqLen = 512, salt = "q6r").orderBy("seq_id")
    }),
    // ---- domain-mixture resampling: integer ppm rates per source —
    //      upsample src0 2.5x, halve src1, drop src2, 1.3x src3, keep the
    //      rest; content-addressed draws, map-side only.
    "q6s_mixture_sample" -> ((s, dir) => {
      TextAnalysis.mixtureSample(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("source"),
        ratesPpm = Map("src0" -> 2500000L, "src1" -> 500000L,
          "src2" -> 0L, "src3" -> 1300000L),
        defaultPpm = 1000000L, salt = "q6s").orderBy("doc_id", "copy_no")
    }),
    // ---- PII redaction over deterministically PII-augmented text (the
    //      fixture corpus carries none, so the query plants emails /
    //      phones / IPs from doc_id — the oracle rebuilds the same text);
    //      counts from the original, scrub hash+length of the result.
    "q6t_redact_pii" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val aug = concat(col("text"),
        when(col("doc_id") % 4 === 0,
            concat(lit(" mail user"), col("doc_id").cast("string"),
              lit("@example.com now")))
          .when(col("doc_id") % 4 === 1, lit(" call 555-123-4567 or 555-000-1234"))
          .when(col("doc_id") % 4 === 2,
            concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
              lit(".7 net")))
          .otherwise(lit("")))
      TextAnalysis.redactPii(d, col("doc_id"), aug).orderBy("doc_id")
    }),
    // ---- cross-modal alignment gate (CLIP-score filter shape): pair the
    //      even/odd embedding rows as (image, caption) sides, keep pairs
    //      with quantized-int cosine >= 0.1 — map-only after the pairing
    //      join; at ingest both embeddings arrive on one row (no join).
    "q6u_alignment_filter" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val a = e.where(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("pair_id"), col("embedding").as("img_emb"))
      val b = e.where(col("vec_id") % 2 === 1)
        .select((col("vec_id") - 1).as("pair_id"), col("embedding").as("cap_emb"))
      Similarity.alignmentFilter(a.join(b, Seq("pair_id")),
        col("pair_id"), col("img_emb"), col("cap_emb"), threshold = 0.1)
        .orderBy("pair_id")
    }),
    // ---- canonical normalization (pre-dedup key) — hash parity checked
    "q54_normalize" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
          graft.functions.TextFunctions.charHash(TextAnalysis.normalize(col("text"))).as("norm_hash"),
          length(TextAnalysis.normalize(col("text"))).as("norm_len"))
        .orderBy("doc_id")
    }),
    // ---- deduplicated corpus: keep min-id row per normalized key
    "q55_dedup_keep" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      Dedup.keepFirst(d, col("doc_id"), TextAnalysis.normalize(col("text")))
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")
    }),
    // ---- dedup clusters: connected components over LSH near-dup pairs
    "q52_dup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashLshPairs(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text"), n = 3, threshold = 0.5)
      Dedup.dupClusters(pairs).orderBy("doc_id")
    }),
    // ---- IVF-bucketed ANN. ORACLED via the same recall-bound shape as
    //      q49, against the exact L2 top-k (IVF ranks by L2 — the FAISS
    //      IndexIVFFlat contract, so the reference must too).
    "q53_ivf_topk" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      // nprobe by RecallProbe measurement: recall 1.0 (sf0.01) / 0.87
      // (sf0.1) vs the 0.8 bound — the fixture embeddings are mostly
      // unclustered, so honest IVF recall needs a high probe fraction at
      // this corpus size; Lloyd centroids (2 rounds) add ~0.05
      val ann = Similarity.ivfTopK(s, emb, q, "vec_id", "embedding", k = 10,
        nprobe = 24, lloydRounds = 2)
      val exact = Similarity.topKL2(emb, q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    }),
    // ---- persisted IVF index (build-once/query-many): build writes the
    //      partition-pruned list table, query reads ONLY probed lists; same
    //      recall-bound contract vs in-job exact L2 as q53. Equality with
    //      the one-shot path + physical pruning gated in SimilaritySpec.
    "q6a_ivf_index" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      val idx = java.nio.file.Files.createTempDirectory("graft_ivf_q6a").toString
      Similarity.ivfBuildSave(s, emb, "vec_id", "embedding", idx, lloydRounds = 2)
      val ann = Similarity.ivfQueryIndex(s, idx, q, "vec_id", "embedding",
        k = 10, nprobe = 24)
      val exact = Similarity.topKL2(emb, q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    }),
    // ---- SHARDED-centroid IVF query (the 10^12-scale two-stage probe:
    //      centroid table never broadcasts / never reaches the driver;
    //      only the √nlist meta-quantizer does). Same driver contract as
    //      q6a: exact twin computed in-job, recall≥0.8 bound row.
    //      coarseProbe covers the full coarse stage here because the
    //      fixture's nprobe/nlist is huge (24/44 at sf0.1 — measured: any
    //      coarse pruning below full coverage must lose recall when more
    //      than half of ALL lists are wanted); deployments probe ~1% of
    //      lists and prune the coarse stage too — that approximate point
    //      is spec-gated (SimilaritySpec two-stage recall ≥ 0.8 at 3/5
    //      coarse cells).
    "q71_ivf_sharded" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      val idx = java.nio.file.Files.createTempDirectory("graft_ivf_q71").toString
      Similarity.ivfBuildSave(s, emb, "vec_id", "embedding", idx, lloydRounds = 2)
      val ann = Similarity.ivfQueryIndexSharded(s, idx, q, "vec_id", "embedding",
        k = 10, nprobe = 24, coarseProbe = 8)
      val exact = Similarity.topKL2(emb, q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    }),
    // ---- Sharded HNSW graph ANN (core.Hnsw + Similarity.hnswTopK) — the
    //      high-recall serving index (Malkov & Yashunin 2016): per-shard
    //      graphs built in mapPartitions (Lucene per-segment layout), query
    //      fans out and merges per-shard top-k. Same recall-bound contract
    //      vs the exact L2 twin as q53/q6a/q71.
    "q7a_hnsw" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      val ann = Similarity.hnswTopK(s, emb, q, "vec_id", "embedding",
        k = 10, shards = 8, m = 16, efConstruction = 100, efSearch = 128)
      val exact = Similarity.topKL2(emb, q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    }),
    // ---- PERSISTED sharded-HNSW index (build-once/query-many, the q6a
    //      contract for the graph family): graphs serialize chunked under
    //      graphs/shard_id=N, a query batch deserializes each shard once;
    //      persisted == in-job rows and append-only-touched-shards are
    //      spec-gated. Same recall-bound row vs the exact L2 twin.
    "q7b_hnsw_index" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      val idx = java.nio.file.Files.createTempDirectory("graft_hnsw_q7b").toString
      Similarity.hnswBuildSave(s, emb, "vec_id", "embedding", idx,
        shards = 8, m = 16, efConstruction = 100)
      val ann = Similarity.hnswQueryIndex(s, idx, q, "vec_id", "embedding",
        k = 10, efSearch = 128)
      val exact = Similarity.topKL2(emb, q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    }),
    // ---- STREAMING curation, driver-green (§2 row J): the quality →
    //      repetition gate chain (incl. the stream-stream join) runs as a
    //      Structured Streaming job over a file source with
    //      Trigger.AvailableNow, lands in an IcebergLite table through the
    //      EXACTLY-ONCE foreachBatch sink (batchId inside the snapshot
    //      commit), and the query returns the TABLE read-back — so the
    //      oracle checks the whole stream→sink→snapshot path against the
    //      batch twin SQL (stream==batch for these map-only kernels is
    //      additionally spec-gated in EventStreamSpec).
    "q6g_stream_curate" -> ((s, dir) => {
      import java.nio.file.{Files, Paths}
      // FileStreamSource wants a landing DIRECTORY; stage the single
      // driver file into one (read-only testdata stays untouched)
      val staged = Files.createTempDirectory("graft_q6g_src")
      Files.copy(Paths.get(s"$dir/documents.parquet"),
        staged.resolve("documents-0.parquet"))
      val tbl = Files.createTempDirectory("graft_q6g_tbl").toString
      val ckpt = Files.createTempDirectory("graft_q6g_ck").toString
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema).parquet(staged.toString)
      val kept = TextAnalysis.quality(stream, col("doc_id"), col("text"))
        .where(col("keep")).select("doc_id")
      val curated = TextAnalysis.repetition(
          kept.join(stream.select(col("doc_id"), col("text")), "doc_id"),
          col("doc_id"), col("text"))
        .where(col("repetition_keep"))
        .select("doc_id", "n_grams", "dup_frac")
      val q = curated.writeStream
        .queryName("q6g")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(graft.streaming.EventStream.icebergBatchWriter(
          tbl, col("doc_id"), "q6g"))
        .start()
      q.awaitTermination()
      graft.sources.IcebergLite.read(s, tbl).orderBy("doc_id")
    }),
    // ---- STREAMING dedup-within-watermark (J): dropDuplicatesWithinWatermark
    //      state in front of the exactly-once Iceberg sink — the ingestion
    //      guard against re-delivered rows. THREE micro-batches
    //      (maxFilesPerTrigger=1) where every key arrives in MULTIPLE
    //      batches (c_custkey % 3 splits the files, % 500 makes the key),
    //      so only cross-batch dedup STATE — not per-batch distinct —
    //      reproduces the batch DISTINCT twin. Duplicate rows are
    //      byte-identical, so the survivor is order-independent.
    "q81_stream_dedup" -> ((s, dir) => {
      import java.nio.file.Files
      val staged = Files.createTempDirectory("graft_q81_src")
      val tmp = Files.createTempDirectory("graft_q81_tmp").toString
      val cust = s.read.parquet(s"$dir/customer.parquet")
      def events(part: Int) = cust.where(col("c_custkey") % 3 === part)
        .select((col("c_custkey") % 500L).as("k"),
          expr("(c_custkey % 500) * 2654435761 % 1000000").as("payload"),
          to_timestamp(lit("2024-01-01 00:00:00")).as("ts"))
      (0 until 3).foreach { p =>
        events(p).coalesce(1).write.mode("overwrite").parquet(s"$tmp/p$p")
        val f = new java.io.File(s"$tmp/p$p").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.copy(f.toPath, staged.resolve(s"events-$p.parquet"))
      }
      val tbl = Files.createTempDirectory("graft_q81_tbl").toString
      val ckpt = Files.createTempDirectory("graft_q81_ck").toString
      val schema = events(0).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(staged.toString)
      val deduped = graft.streaming.EventStream.streamingDedup(stream, Seq("k"))
        .select("k", "payload")
      val q = deduped.writeStream
        .queryName("q81")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(graft.streaming.EventStream.icebergBatchWriter(
          tbl, col("k"), "q81"))
        .start()
      q.awaitTermination()
      graft.sources.IcebergLite.read(s, tbl).orderBy("k")
    }),
    // ---- TRAJECTORY segmentation: per-user GPS streams split into trips
    //      at >12h dwell gaps, each trip reduced to fix count / start /
    //      duration / path length (sessionization). ONE exchange on the
    //      entity key serves both windows and the final aggregate; the hop
    //      kernel is a fixed IEEE sqrt chain (correctly rounded BY the 754
    //      standard) so ⌊hop⌋ and its int64 trip sum are engine-invariant.
    "q82_trips" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        // parquet ts is NTZ; session tz is pinned UTC in both mains, so the
        // cast re-types the same wall-clock instant DuckDB's epoch_us reads
        col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tus"),
        col("event_id"),
        Derive.lonMicro(col("event_id")).as("lonm"),
        Derive.latMicro(col("event_id")).as("latm"))
      Trajectory.trips(ev, col("user_id"), col("tus"), col("event_id"),
          col("lonm"), col("latm"), gapUs = 43200L * 1000000L)
        .orderBy("entity", "trip_no")
    }),
    // ---- ROUTING: bounded-hop single-source shortest path over a synthetic
    //      road graph (Bellman-Ford rounds = Pregel shape: one frontier⋈edges
    //      equi-join + one hash min-aggregate per plans.Fixpoint round).
    //      Pure int64 adds and mins — the DuckDB twin is H chained
    //      min-relaxation CTEs.
    "q83_sssp" -> ((s, dir) => {
      val k = col("o_orderkey")
      // dst mixes in (k div 500) so parallel orders on the same src residue
      // fan out to DIFFERENT neighbours (out-degree ~30) — a pure k·c % 500
      // term is a function of src and would collapse the graph to one path
      val edges = s.read.parquet(s"$dir/orders.parquet").select(
        (k % 500L).as("src"),
        expr("(o_orderkey div 500 + o_orderkey * 7919 + 13) % 500").as("dst"),
        (k % 997L + 1L).as("w"))
      Routing.shortestPaths(edges, col("src"), col("dst"), col("w"),
          sources = Seq(0L), maxHops = 8)
        .orderBy("node")
    }),
    // ---- TRIANGLE COUNT: degree-oriented wedge join (Suri–Vassilvitskii) —
    //      orientation caps per-vertex wedge fan-out at outdeg² = O(m), so
    //      no "last reducer" hot task on power-law hubs; three hash
    //      exchanges, pure int64, single-row exact result.
    "q84_triangles" -> ((s, dir) => {
      val k = col("o_orderkey")
      val edges = s.read.parquet(s"$dir/orders.parquet").select(
        (k % 300L).as("u"),
        expr("(o_orderkey div 300 + o_orderkey * 7919) % 300").as("v"))
      operators.Graph.triangleCount(edges, col("u"), col("v"))
    }),
    // ---- PAGERANK: bounded-iteration link centrality in EXACT int64
    //      fixed-point (SCALE 10^12, damping 85/100, integer `div` at both
    //      the per-edge contribution and the damped sum) — one rank⋈edges
    //      equi-join + one hash sum-aggregate per plans.Fixpoint round.
    //      6 rounds; the DuckDB twin is 6 chained CTEs replaying the rule.
    "q86_pagerank" -> ((s, dir) => {
      val k = col("o_orderkey")
      val edges = s.read.parquet(s"$dir/orders.parquet").select(
        (k % 400L).as("src"),
        expr("(o_orderkey div 400 + o_orderkey * 7919 + 31) % 400").as("dst"))
      operators.Graph.pageRank(edges, col("src"), col("dst"), iters = 6)
        .orderBy("node")
    }),
    // ---- POLYGON CENTROID / label point: exact int64 shoelace over the
    //      vertex-table form, translated to the ring's first vertex so every
    //      product stays in int64 (ANSI-checked), label point via ONE
    //      correctly-rounded IEEE division + floor → engine-invariant. One
    //      exchange on the polygon key serves the ordering window AND the
    //      final aggregate.
    "q87_centroid" -> ((s, dir) => {
      val k = col("c_custkey")
      val pidE = expr("(c_custkey - 1) div 8")
      val verts = s.read.parquet(s"$dir/customer.parquet").select(
        pidE.as("pid"), expr("(c_custkey - 1) % 8").as("idx"),
        // quadratic-in-key offsets: a LINEAR hash makes every non-wrapping
        // ring collinear (a2 = 0); the square term keeps rings genuinely 2-D
        (Derive.lonMicro(pidE) + (k * k * 48271L) % 600001L - 300000L).as("x"),
        (Derive.latMicro(pidE) + ((k + 7L) * (k + 13L) * 16807L) % 600001L - 300000L).as("y"))
      operators.Centroid.labelPoints(verts, col("pid"), col("idx"),
          col("x"), col("y"))
        .orderBy("poly_id")
    }),
    // ---- FEATURE DIAMETER via convex hull: exact int64 max pairwise
    //      squared distance per feature — the hull (monotone chain, exact
    //      cross products) is pure acceleration, turning the oracle's O(n²)
    //      brute max into O(n log n) + O(h²); one geometry-assembly hash
    //      aggregate then a map-only kernel, same shape as q7z.
    "q88_diameter" -> ((s, dir) => {
      val k = col("o_orderkey")
      val pidE = expr("(o_orderkey - 1) div 30")
      val verts = s.read.parquet(s"$dir/orders.parquet").select(
        pidE.as("pid"),
        (Derive.lonMicro(pidE) + (k * k * 48271L) % 600001L - 300000L).as("x"),
        (Derive.latMicro(pidE) + ((k + 7L) * (k + 13L) * 16807L) % 600001L - 300000L).as("y"))
      operators.Hull.diameter(s, verts, col("pid"), col("x"), col("y"))
        .orderBy("poly_id")
    }),
    // ---- OD FLOW MATRIX: trips → one flow per trip from its first fix's
    //      cell to its last fix's cell, counted per directed cell pair —
    //      the aggregate mobility verb on top of q82. Endpoint election is
    //      a map-side-partial min_by/max_by keyed by the unique (tus, oid)
    //      pair (no per-trip sort); shift-before-div keeps integer division
    //      engine-invariant.
    "q89_od_matrix" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tus"),
        col("event_id"),
        Derive.lonMicro(col("event_id")).as("lonm"),
        Derive.latMicro(col("event_id")).as("latm"))
      Trajectory.odMatrix(ev, col("user_id"), col("tus"), col("event_id"),
          col("lonm"), col("latm"), gapUs = 43200L * 1000000L,
          cellMicro = 8000000L)
        .orderBy("o_cx", "o_cy", "d_cx", "d_cy")
    }),
    // ---- SPATIOTEMPORAL CO-LOCATION: contact events between DISTINCT
    //      entities within 200k µdeg AND 6 h of each other, counted per
    //      unordered pair — candidates from a (space-cell × τ-bucket) grid,
    //      never all-pairs; exact int64 d²/|Δt| predicates decide. Fixture
    //      places users on mod-13 hotspots with per-event jitter so
    //      co-location actually occurs; the oracle is the brute-force
    //      time-band self-join over the same derived fixes.
    "q90_colocation" -> ((s, dir) => {
      val hub = col("user_id") % 13L
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tus"),
        (Derive.lonMicro(hub) + (col("event_id") * 48271L) % 600001L
          - 300000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("event_id") + 7L) * 16807L) % 600001L
          - 300000L).as("latm"))
      Trajectory.coLocation(ev, col("user_id"), col("tus"), col("lonm"),
          col("latm"), radiusMicro = 200000L, tauUs = 21600000000L, level = 9)
        .orderBy("ent_a", "ent_b")
    }),
    // ---- k-CORE: the 2-core of a skewed hash graph UNION a 15-vertex
    //      dangling path — the path peels from both ends at one vertex
    //      per round (8 rounds at every SF), so only a genuinely iterative
    //      peel reproduces the fixpoint; the oracle replays 12 synchronous
    //      rounds (idempotent past convergence).
    "q91_kcore" -> ((s, dir) => {
      val ok = col("o_orderkey")
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val raw = orders.select(((ok * ok) % 2311L).as("x"),
          ((ok * 7919L + 13L) % ((ok % 389L) + 7L)).as("y"))
        .union(orders.select((ok % 14L + 10000L).as("x"),
          (ok % 14L + 10001L).as("y")))
      operators.Graph.kCore(raw, col("x"), col("y"), k = 2, maxRounds = 12)
        .orderBy("n")
    }),
    // ---- TRAJECTORY SIMILARITY: grid-quantized symmetric Hausdorff
    //      distance (squared cell units, level 12) between every entity
    //      pair that ever visited a common cell — co-visitation blocking,
    //      exact int64 throughout; same mod-13 hotspot fixture as q90.
    "q92_traj_hausdorff" -> ((s, dir) => {
      val hub = col("user_id") % 61L
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id"),
        (Derive.lonMicro(hub) + (col("event_id") * 48271L) % 600001L
          - 300000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("event_id") + 7L) * 16807L) % 600001L
          - 300000L).as("latm"))
      Trajectory.gridHausdorff(ev, col("user_id"), col("lonm"), col("latm"),
          level = 12)
        .orderBy("ent_a", "ent_b")
    }),
    // ---- GLOBAL MORAN'S I: spatial autocorrelation of the point-density
    //      raster [Moran 1950] — ONE row (n_cells, w_ordered, num_scaled,
    //      den_scaled) of exact int64 sums; I = (N/W)·num/den is the
    //      consumer's single float division. Hub fixture with triangular
    //      jitter so the raster has real density gradients (I > 0).
    "q93_morans_i" -> ((s, dir) => {
      val hub = col("o_orderkey") % 37L
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        (Derive.lonMicro(hub) + (col("o_orderkey") * 48271L) % 9000001L
          - 4500000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("o_orderkey") + 7L) * 16807L) % 9000001L
          - 4500000L).as("latm"))
      operators.GridRaster.moransI(pts, col("lonm"), col("latm"),
          cellMicro = 2000000L)
    }),
    // ---- LOCAL Moran's I (LISA, Anselin 1995): the per-cell drill-down of
    //      q93 — same occupied-cell units, rook weights and N-scaled
    //      deviations, one row per cell whose (u_scaled, nbr_u_sum) signs
    //      classify HH hotspots / LL coldspots / HL-LH outliers. Same hub
    //      fixture so the two statistics decompose exactly.
    "q94_local_morans" -> ((s, dir) => {
      val hub = col("o_orderkey") % 37L
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        (Derive.lonMicro(hub) + (col("o_orderkey") * 48271L) % 9000001L
          - 4500000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("o_orderkey") + 7L) * 16807L) % 9000001L
          - 4500000L).as("latm"))
      operators.GridRaster.localMorans(pts, col("lonm"), col("latm"),
          cellMicro = 2000000L)
        .orderBy("cx", "cy")
    }),
    // ---- RIPLEY'S K pair counts (q95): the multi-scale clustering curve —
    //      ordered pairs within r for four radii, zero-filled, exact int64
    //      d² ≤ r². Candidates from a 3×3 ring at g = max(r); each pair
    //      produced exactly once via id orientation; no all-pairs stage.
    "q95_ripley_k" -> ((s, dir) => {
      val hub = col("c_custkey") % 23L
      val pts = s.read.parquet(s"$dir/customer.parquet").select(
        col("c_custkey").as("id"),
        (Derive.lonMicro(hub) + (col("c_custkey") * 48271L) % 7000001L
          - 3500000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("c_custkey") + 7L) * 16807L) % 7000001L
          - 3500000L).as("latm"))
      operators.PointPattern.ripleyK(pts, col("id"), col("lonm"), col("latm"),
          Seq(500000L, 1000000L, 2000000L, 4000000L))
        .orderBy("r_micro")
    }),
    // ---- EMERGING HOTSPOTS (q96): per-cell Mann-Kendall S over the
    //      space-time cube — 10 three-day bins across the events month,
    //      empty bins are real zeros in each cell's series. The hub fixture
    //      gives cells genuine per-bin count fluctuation; S is pure int64.
    "q96_emerging_hotspots" -> ((s, dir) => {
      val hub = col("user_id") % 13L
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        unix_micros(col("ts").cast("timestamp")).as("tus"),
        (Derive.lonMicro(hub) + (col("event_id") * 48271L) % 600001L
          - 300000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("event_id") + 7L) * 16807L) % 600001L
          - 300000L).as("latm"))
      operators.GridRaster.emergingHotspots(ev, col("lonm"), col("latm"),
          col("tus"), cellMicro = 200000L, t0Us = 1704067200000000L,
          binUs = 259200000000L, nBins = 10)
        .orderBy("cx", "cy")
    }),
    // ---- IMAGE OBJECT COUNT (q97): decode (PNG/VP8L/raw) → 8×8 integer
    //      mean-pool → threshold → 4-connected blob count per image, as a
    //      corpus histogram. On the generator's bit→block images the mask
    //      equals the phash bit grid, so the oracle re-derives every count
    //      from the rules alone — the decode+pool+CC chain must agree.
    "q97_object_count" -> ((s, dir) => {
      operators.Multimodal.objectCount(Fixtures.images(s, 5000))
        .groupBy("n_objects").agg(count(lit(1)).as("n_images"))
        .orderBy("n_objects")
    }),
    // ---- GETIS-ORD Gi* (q98): neighborhood-total hot/cold-spot surface —
    //      queen 3×3 weights INCLUDING self over occupied cells, globals on
    //      every row so the consumer's z-score is self-contained; all int64.
    //      Same hub fixture as q93/q94 — the three statistics triangulate.
    "q98_getis_ord" -> ((s, dir) => {
      val hub = col("o_orderkey") % 37L
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        (Derive.lonMicro(hub) + (col("o_orderkey") * 48271L) % 9000001L
          - 4500000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("o_orderkey") + 7L) * 16807L) % 9000001L
          - 4500000L).as("latm"))
      operators.GridRaster.getisOrd(pts, col("lonm"), col("latm"),
          cellMicro = 2000000L)
        .orderBy("cx", "cy")
    }),
    // ---- STAY-POINT detection (q99): per-entity maximal same-cell runs
    //      lasting ≥ 1 day with ≥ 3 fixes — the place-based complement of
    //      trip segmentation. Fixture: each user sits at a (user, 3-day
    //      slot) anchor with ±100k jitter over 400k cells, so runs dwell
    //      within slots and sometimes break at cell seams mid-slot.
    "q99_stay_points" -> ((s, dir) => {
      val hub = col("user_id") % 13L
      val tus = unix_micros(col("ts").cast("timestamp"))
      val slot = expr("(unix_micros(cast(ts as timestamp)) " +
        "- 1704067200000000) div 259200000000")
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id"), tus.as("tus"), col("event_id").as("oid"),
        (Derive.lonMicro(hub)
          + ((col("user_id") * 31L + slot * 7L) * 48271L) % 600001L - 300000L
          + (col("event_id") * 7919L) % 200001L - 100000L).as("lonm"),
        (Derive.latMicro(hub)
          + ((col("user_id") * 17L + slot * 11L) * 16807L) % 600001L - 300000L
          + ((col("event_id") + 3L) * 104729L) % 200001L - 100000L).as("latm"))
      Trajectory.stayPoints(ev, col("user_id"), col("tus"), col("oid"),
          col("lonm"), col("latm"), cellMicro = 400000L,
          minStayUs = 86400000000L, minFixes = 3L)
        .orderBy("entity", "enter_us")
    }),
    // ---- AREAL INTERPOLATION (q9a): area-weighted reaggregation — each
    //      source rect spreads its value uniformly, target zones receive
    //      value·clip div srcArea (integer floor, engine-invariant). Same
    //      feature fixture as q75 with a value column; mass ≤ inputs.
    "q9a_areal_interp" -> ((s, dir) => {
      val k = col("c_custkey")
      val feats = s.read.parquet(s"$dir/customer.parquet").select(k,
        (Derive.lonMicro(k) - (k * 6101L) % 1500001L).as("flo"),
        (Derive.latMicro(k) - (k * 9203L) % 1500001L).as("fla"),
        (Derive.lonMicro(k) + (k * 6101L) % 1500001L).as("fhi"),
        (Derive.latMicro(k) + (k * 9203L) % 1500001L).as("fha"),
        (k % 1000L).as("v"))
      SpatialJoin.arealInterpolate(s, feats, k, col("flo"), col("fla"),
          col("fhi"), col("fha"), col("v"), Derive.rectSpecs)
        .orderBy("poly_id")
    }),
    // ---- CONVOY detection (q9b): pairs together in ≥ 3 CONSECUTIVE 3-day
    //      bins — the sequential extension of q90's co-location (contacts
    //      alone don't make a convoy; absence breaks runs). Same mod-13 hub
    //      fixture; per-bin together = any fix pair within 200k µdeg.
    "q9b_convoys" -> ((s, dir) => {
      val hub = col("user_id") % 13L
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tus"),
        (Derive.lonMicro(hub) + (col("event_id") * 48271L) % 600001L
          - 300000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("event_id") + 7L) * 16807L) % 600001L
          - 300000L).as("latm"))
      Trajectory.convoyPairs(ev, col("user_id"), col("tus"), col("lonm"),
          col("latm"), radiusMicro = 200000L, t0Us = 1704067200000000L,
          binUs = 259200000000L, nBins = 10, minRun = 3, level = 9)
        .orderBy("ent_a", "ent_b")
    }),
    // ---- STREAMING stay points (q9c): the q99 semantics as managed state —
    //      one StayState per live entity across THREE micro-batches (global
    //      (tus, oid)-ordered tertile files, so runs span batch boundaries
    //      and only cross-batch state reproduces the batch twin), stays
    //      emitted exactly-once into the IcebergLite sink; a 4th flush file
    //      (past-horizon fix in the traffic-free corner cell) closes each
    //      entity's final run. Oracle IS the batch q99 SQL.
    "q9c_stream_stays" -> ((s, dir) => {
      import java.nio.file.Files
      import s.implicits._
      val staged = Files.createTempDirectory("graft_q9c_src")
      val tmp = Files.createTempDirectory("graft_q9c_tmp").toString
      val hub = col("user_id") % 13L
      val tusC = unix_micros(col("ts").cast("timestamp"))
      val slot = expr("(unix_micros(cast(ts as timestamp)) " +
        "- 1704067200000000) div 259200000000")
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id").as("entity"), tusC.as("tus"),
        col("event_id").as("oid"),
        (Derive.lonMicro(hub)
          + ((col("user_id") * 31L + slot * 7L) * 48271L) % 600001L - 300000L
          + (col("event_id") * 7919L) % 200001L - 100000L).as("lon"),
        (Derive.latMicro(hub)
          + ((col("user_id") * 17L + slot * 11L) * 16807L) % 600001L - 300000L
          + ((col("event_id") + 3L) * 104729L) % 200001L - 100000L).as("lat"))
      val maxTus = ev.agg(max("tus")).as[Long].head()
      val w = org.apache.spark.sql.expressions.Window.orderBy("tus", "oid")
      val chunked = ev.withColumn("_c", ntile(3).over(w))
      (1 to 3).foreach { c =>
        chunked.where(col("_c") === c).drop("_c")
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/p$c")
        val f = new java.io.File(s"$tmp/p$c").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.copy(f.toPath, staged.resolve(s"fixes-$c.parquet"))
      }
      // flush: cell (0,0) is unreachable by the fixture (hub lon ≥ −171°),
      // so the flush breaks every final run and parks unemitted
      ev.select(col("entity")).distinct()
        .select(col("entity"), lit(maxTus + 1L).as("tus"), lit(-1L).as("oid"),
          lit(-179999999L).as("lon"), lit(-89999999L).as("lat"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/p4")
      val f4 = new java.io.File(s"$tmp/p4").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f4.toPath, staged.resolve(s"fixes-4.parquet"))
      val tbl = Files.createTempDirectory("graft_q9c_tbl").toString
      val ckpt = Files.createTempDirectory("graft_q9c_ck").toString
      val stream = s.readStream.schema(chunked.drop("_c").schema)
        .option("maxFilesPerTrigger", 1).parquet(staged.toString)
        .as[graft.streaming.EventStream.Fix]
      val stays = graft.streaming.EventStream.streamingStayPoints(stream,
        cellMicro = 400000L, minStayUs = 86400000000L, minFixes = 3L)
      val q = stays.toDF().writeStream
        .queryName("q9c")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(graft.streaming.EventStream.icebergBatchWriter(
          tbl, col("entity"), "q9c"))
        .start()
      q.awaitTermination()
      graft.sources.IcebergLite.read(s, tbl).orderBy("entity", "enter_us")
    }),
    // ---- GEOFENCE transition events (q9d): enter/exit crossings of 13
    //      hub-centered rect fences over the slot-anchored mobility
    //      fixture — users oscillate ±300k+jitter around hubs with 250k
    //      fences, so both directions fire. Inclusive bounds; first fix
    //      inside = enter. One broadcast nested loop + one entity window.
    "q9d_geofence" -> ((s, dir) => {
      val hub = col("user_id") % 13L
      val tusC = unix_micros(col("ts").cast("timestamp"))
      val slot = expr("(unix_micros(cast(ts as timestamp)) " +
        "- 1704067200000000) div 259200000000")
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id"), tusC.as("tus"), col("event_id").as("oid"),
        (Derive.lonMicro(hub)
          + ((col("user_id") * 31L + slot * 7L) * 48271L) % 600001L - 300000L
          + (col("event_id") * 7919L) % 200001L - 100000L).as("lonm"),
        (Derive.latMicro(hub)
          + ((col("user_id") * 17L + slot * 11L) * 16807L) % 600001L - 300000L
          + ((col("event_id") + 3L) * 104729L) % 200001L - 100000L).as("latm"))
      val fences = s.range(0, 13).select(col("id").as("fence_id"),
        (Derive.lonMicro(col("id")) - 250000L).as("lon_min"),
        (Derive.latMicro(col("id")) - 250000L).as("lat_min"),
        (Derive.lonMicro(col("id")) + 250000L).as("lon_max"),
        (Derive.latMicro(col("id")) + 250000L).as("lat_max"))
      Trajectory.geofenceEvents(ev, col("user_id"), col("tus"), col("oid"),
          col("lonm"), col("latm"), fences)
        .orderBy("entity", "fence_id", "tus")
    }),
    // ---- STREAMING geofence alerting (q9e): the q9d semantics as managed
    //      state — the inside-set per live entity carried across THREE
    //      micro-batches; crossings emit on the batch where the crossing
    //      fix arrives (no flush file: a crossing is its own evidence).
    //      Exactly-once into the IcebergLite sink; oracle IS the batch SQL.
    "q9e_stream_geofence" -> ((s, dir) => {
      import java.nio.file.Files
      val hub = col("user_id") % 13L
      val tusC = unix_micros(col("ts").cast("timestamp"))
      val slot = expr("(unix_micros(cast(ts as timestamp)) " +
        "- 1704067200000000) div 259200000000")
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id").as("entity"), tusC.as("tus"),
        col("event_id").as("oid"),
        (Derive.lonMicro(hub)
          + ((col("user_id") * 31L + slot * 7L) * 48271L) % 600001L - 300000L
          + (col("event_id") * 7919L) % 200001L - 100000L).as("lon"),
        (Derive.latMicro(hub)
          + ((col("user_id") * 17L + slot * 11L) * 16807L) % 600001L - 300000L
          + ((col("event_id") + 3L) * 104729L) % 200001L - 100000L).as("lat"))
      val staged = Files.createTempDirectory("graft_q9e_src")
      val tmp = Files.createTempDirectory("graft_q9e_tmp").toString
      val w = org.apache.spark.sql.expressions.Window.orderBy("tus", "oid")
      val chunked = ev.withColumn("_c", ntile(3).over(w))
      (1 to 3).foreach { c =>
        chunked.where(col("_c") === c).drop("_c")
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/p$c")
        val f = new java.io.File(s"$tmp/p$c").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.copy(f.toPath, staged.resolve(s"fixes-$c.parquet"))
      }
      val fences = (0L until 13L).map(j => (j,
        Derive.lonMicroL(j) - 250000L, Derive.latMicroL(j) - 250000L,
        Derive.lonMicroL(j) + 250000L, Derive.latMicroL(j) + 250000L)).toArray
      val tbl = Files.createTempDirectory("graft_q9e_tbl").toString
      val ckpt = Files.createTempDirectory("graft_q9e_ck").toString
      val stream = s.readStream.schema(chunked.drop("_c").schema)
        .option("maxFilesPerTrigger", 1).parquet(staged.toString)
        .as[graft.streaming.EventStream.Fix](
          org.apache.spark.sql.Encoders.product[graft.streaming.EventStream.Fix])
      val evts = graft.streaming.EventStream.streamingGeofence(stream, fences)
      val q = evts.toDF().writeStream
        .queryName("q9e")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(graft.streaming.EventStream.icebergBatchWriter(
          tbl, col("entity"), "q9e"))
        .start()
      q.awaitTermination()
      graft.sources.IcebergLite.read(s, tbl)
        .orderBy("entity", "fence_id", "tus")
    }),
    // ---- CELL-TRANSITION matrix (q9f): the first-order mobility Markov
    //      chain — directed edges between successive VISIT cells (runs
    //      collapse first, so no self-loops), every intermediate movement
    //      edge that q89's OD matrix throws away. Same slot fixture.
    "q9f_transitions" -> ((s, dir) => {
      val hub = col("user_id") % 13L
      val tusC = unix_micros(col("ts").cast("timestamp"))
      val slot = expr("(unix_micros(cast(ts as timestamp)) " +
        "- 1704067200000000) div 259200000000")
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id"), tusC.as("tus"), col("event_id").as("oid"),
        (Derive.lonMicro(hub)
          + ((col("user_id") * 31L + slot * 7L) * 48271L) % 600001L - 300000L
          + (col("event_id") * 7919L) % 200001L - 100000L).as("lonm"),
        (Derive.latMicro(hub)
          + ((col("user_id") * 17L + slot * 11L) * 16807L) % 600001L - 300000L
          + ((col("event_id") + 3L) * 104729L) % 200001L - 100000L).as("latm"))
      Trajectory.cellTransitions(ev, col("user_id"), col("tus"), col("oid"),
          col("lonm"), col("latm"), cellMicro = 400000L)
        .orderBy("f_cx", "f_cy", "t_cx", "t_cy")
    }),
    // ---- GPS TELEPORT flagging (q9g): fixes whose implied speed from the
    //      previous fix exceeds 50 µdeg/s — the cleaning gate in front of
    //      every trajectory pipeline. Exact int64 predicate over the fixed
    //      IEEE hop chain; first fix never flags; zero-dt movement flags.
    "q9g_teleports" -> ((s, dir) => {
      val hub = col("user_id") % 13L
      val tusC = unix_micros(col("ts").cast("timestamp"))
      val slot = expr("(unix_micros(cast(ts as timestamp)) " +
        "- 1704067200000000) div 259200000000")
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id"), tusC.as("tus"), col("event_id").as("oid"),
        (Derive.lonMicro(hub)
          + ((col("user_id") * 31L + slot * 7L) * 48271L) % 600001L - 300000L
          + (col("event_id") * 7919L) % 200001L - 100000L).as("lonm"),
        (Derive.latMicro(hub)
          + ((col("user_id") * 17L + slot * 11L) * 16807L) % 600001L - 300000L
          + ((col("event_id") + 3L) * 104729L) % 200001L - 100000L).as("latm"))
      Trajectory.flagTeleports(ev, col("user_id"), col("tus"), col("oid"),
          col("lonm"), col("latm"), maxSpeedMicroPerSec = 50L)
        .orderBy("entity", "tus", "oid")
    }),
    // ---- BIVARIATE CROSS-K (q9h): does the event cloud cluster AROUND
    //      the 13 hub sites — K₁₂ pair counts per radius ladder, the
    //      two-class question q95's univariate K can't ask. The fixture
    //      places events ±300k around hubs, so the curve saturates fast.
    "q9h_cross_k" -> ((s, dir) => {
      val hub = col("user_id") % 13L
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        (Derive.lonMicro(hub) + (col("event_id") * 48271L) % 600001L
          - 300000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("event_id") + 7L) * 16807L) % 600001L
          - 300000L).as("latm"))
      val sites = s.range(0, 13).select(
        Derive.lonMicro(col("id")).as("slon"),
        Derive.latMicro(col("id")).as("slat"))
      operators.PointPattern.crossK(ev, col("lonm"), col("latm"),
          sites, col("slon"), col("slat"),
          Seq(200000L, 400000L, 800000L, 1600000L))
        .orderBy("r_micro")
    }),
    // ---- ANCHOR cells (q9i): each user's top-3 cells by total dwell time
    //      (home/work inference) — dwell is run-based (a 10 h visit beats
    //      50 passing pings), ranking deterministic. Same slot fixture.
    "q9i_anchors" -> ((s, dir) => {
      val hub = col("user_id") % 13L
      val tusC = unix_micros(col("ts").cast("timestamp"))
      val slot = expr("(unix_micros(cast(ts as timestamp)) " +
        "- 1704067200000000) div 259200000000")
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id"), tusC.as("tus"), col("event_id").as("oid"),
        (Derive.lonMicro(hub)
          + ((col("user_id") * 31L + slot * 7L) * 48271L) % 600001L - 300000L
          + (col("event_id") * 7919L) % 200001L - 100000L).as("lonm"),
        (Derive.latMicro(hub)
          + ((col("user_id") * 17L + slot * 11L) * 16807L) % 600001L - 300000L
          + ((col("event_id") + 3L) * 104729L) % 200001L - 100000L).as("latm"))
      Trajectory.anchorCells(ev, col("user_id"), col("tus"), col("oid"),
          col("lonm"), col("latm"), cellMicro = 400000L, topK = 3)
        .orderBy("entity", "rank")
    }),
    // ---- ISOCHRONE raster (q9j): cells reachable from 3 hub centers
    //      within 6 rook steps, walking only occupied cells (occupancy as
    //      walkability) — BFS = the q83 SSSP engine on packed cell keys,
    //      operator composition over the q93 hub raster.
    "q9j_isochrone" -> ((s, dir) => {
      val hub = col("o_orderkey") % 37L
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        (Derive.lonMicro(hub) + (col("o_orderkey") * 48271L) % 9000001L
          - 4500000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("o_orderkey") + 7L) * 16807L) % 9000001L
          - 4500000L).as("latm"))
      val sources = (0L until 3L).map(j =>
        (Derive.lonMicroL(j), Derive.latMicroL(j)))
      operators.GridRaster.isochrone(pts, col("lonm"), col("latm"),
          cellMicro = 2000000L, sources, maxSteps = 6)
        .orderBy("cx", "cy")
    }),
    // ---- PLACE CO-VISITATION (q9k): "people who go here also go there" —
    //      common-visitor counts per cell pair over the slot fixture
    //      (users hop between slot anchors, so footprints span many cells
    //      and hub-mates co-visit); footprint cap 64, counts over the kept
    //      universe so the consumer's Jaccard is coherent.
    "q9k_covisits" -> ((s, dir) => {
      val hub = col("user_id") % 13L
      val slot = expr("(unix_micros(cast(ts as timestamp)) " +
        "- 1704067200000000) div 259200000000")
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id"),
        (Derive.lonMicro(hub)
          + ((col("user_id") * 31L + slot * 7L) * 48271L) % 600001L - 300000L
          + (col("event_id") * 7919L) % 200001L - 100000L).as("lonm"),
        (Derive.latMicro(hub)
          + ((col("user_id") * 17L + slot * 11L) * 16807L) % 600001L - 300000L
          + ((col("event_id") + 3L) * 104729L) % 200001L - 100000L).as("latm"))
      Trajectory.placeCoVisits(ev, col("user_id"), col("lonm"), col("latm"),
          cellMicro = 400000L, maxFootprint = 64)
        .orderBy("a_cx", "a_cy", "b_cx", "b_cy")
    }),
    // ---- SOBEL gradient raster (q9l): slope/edge detection over the
    //      orders density surface — zero-padded 3×3 Sobel, dilated support,
    //      flat-interior zeros included; aspect stays a consumer float.
    "q9l_sobel" -> ((s, dir) => {
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        Derive.lonMicro(col("o_orderkey")).as("lonm"),
        Derive.latMicro(col("o_orderkey")).as("latm"))
      operators.GridRaster.sobel(pts, col("lonm"), col("latm"),
          cellMicro = 2000000L)
        .orderBy("cx", "cy")
    }),
    // ---- DISCRETE FRÉCHET similarity (q9m): order-aware trajectory
    //      distance — users cycle their hub's 4 POIs with a user-dependent
    //      PHASE, so hub-mates share every cell (Hausdorff-blind) while
    //      Fréchet separates the phase groups; exact int64 DP.
    "q9m_frechet" -> ((s, dir) => {
      val hub = col("user_id") % 13L
      val tusC = unix_micros(col("ts").cast("timestamp"))
      val slot = expr("(unix_micros(cast(ts as timestamp)) " +
        "- 1704067200000000) div 259200000000")
      val poi = (slot + col("user_id")) % 4L
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id"), tusC.as("tus"), col("event_id").as("oid"),
        (Derive.lonMicro(hub) + poi * 600000L).as("lonm"),
        (Derive.latMicro(hub) + poi * 450000L).as("latm"))
      Trajectory.gridFrechet(ev, col("user_id"), col("tus"), col("oid"),
          col("lonm"), col("latm"), cellMicro = 400000L, maxVisits = 12)
        .orderBy("ent_a", "ent_b")
    }),
    // ---- MASK BOUNDARY (q9n): raster→vector outline — every mask-cell
    //      edge whose rook neighbor is off-mask, as exact µdeg segments
    //      (S→N verticals, W→E horizontals); q7y labels the regions, this
    //      emits their unstitched rings. Same threshold fixture as q7y.
    "q9n_boundary" -> ((s, dir) => {
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        Derive.lonMicro(col("o_orderkey")).as("lonm"),
        Derive.latMicro(col("o_orderkey")).as("latm"))
      operators.GridRaster.maskBoundary(pts, col("lonm"), col("latm"),
          cellMicro = 4000000L, minCount = 4L)
        .orderBy("cx", "cy", "side")
    }),
    // ---- THUMBNAIL materialization (q9o): decode (PNG/VP8L/raw) →
    //      integer resize → re-encode through the in-repo PNG writer; the
    //      whole chain is deterministic, so per-dims-group thumbnail byte
    //      totals are oracle-checkable from generator rules alone.
    "q9o_thumbnails" -> ((s, dir) => {
      operators.Multimodal.thumbnails(Fixtures.images(s, 5000), 16, 16)
        .groupBy("w", "h").agg(count(lit(1)).as("n_images"),
          sum("thumb_len").as("thumb_bytes"))
        .orderBy("w", "h")
    }),
    // ---- PER-VERTEX triangles (q9p): the clustering-coefficient core —
    //      (vertex, triangles, degree) over the q84 hash graph; cc =
    //      2T/(d(d−1)) is the consumer's float step. Triangle-free
    //      vertices keep zero rows.
    "q9p_vertex_triangles" -> ((s, dir) => {
      val k = col("o_orderkey")
      val edges = s.read.parquet(s"$dir/orders.parquet").select(
        (k % 300L).as("u"),
        expr("(o_orderkey div 300 + o_orderkey * 7919) % 300").as("v"))
      operators.Graph.vertexTriangles(edges, col("u"), col("v")).orderBy("n")
    }),
    // ---- CO-LOCATION PATTERN participation (q9q): per ordered category
    //      pair, how many A-features have a different B-feature within
    //      300k µdeg — Shekhar-style categorical co-location mining over
    //      parts scattered on 39 hubs (39 ⊥ 5 so every hub mixes all
    //      categories); zero rows kept.
    "q9q_participation" -> ((s, dir) => {
      val k = col("p_partkey")
      val feats = s.read.parquet(s"$dir/part.parquet").select(
        k.as("id"), (k % 5L).as("cat"),
        (Derive.lonMicro(k % 39L) + (k * 48271L) % 800001L - 400000L).as("lonm"),
        (Derive.latMicro(k % 39L) + ((k + 7L) * 16807L) % 800001L
          - 400000L).as("latm"))
      operators.PointPattern.participationCounts(feats, col("id"), col("cat"),
          col("lonm"), col("latm"), radiusMicro = 300000L)
        .orderBy("cat_a", "cat_b")
    }),
    // ---- CATCHMENT allocation (q9r): the q9j isochrone with an answer to
    //      "reached by WHOM" — every occupied cell within 6 rook steps is
    //      labeled by its nearest of 3 hub sources (ties → smaller index);
    //      network Voronoi via the confluent (dist, label) relaxation.
    "q9r_catchments" -> ((s, dir) => {
      val hub = col("o_orderkey") % 37L
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        (Derive.lonMicro(hub) + (col("o_orderkey") * 48271L) % 9000001L
          - 4500000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("o_orderkey") + 7L) * 16807L) % 9000001L
          - 4500000L).as("latm"))
      val sources = (0L until 3L).map(j =>
        (Derive.lonMicroL(j), Derive.latMicroL(j)))
      operators.GridRaster.catchments(pts, col("lonm"), col("latm"),
          cellMicro = 2000000L, sources, maxSteps = 6)
        .orderBy("cx", "cy")
    }),
    // ---- NEXT-LOCATION eval (q9s): how predictable is the corpus — fit
    //      the global transition matrix on each user's first 70% of
    //      visits, predict test-transition destinations (argmax, ties to
    //      min cell), unseen from-cells are honest misses; ONE int row.
    "q9s_next_cell_eval" -> ((s, dir) => {
      val hub = col("user_id") % 13L
      val tusC = unix_micros(col("ts").cast("timestamp"))
      val slot = expr("(unix_micros(cast(ts as timestamp)) " +
        "- 1704067200000000) div 259200000000")
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id"), tusC.as("tus"), col("event_id").as("oid"),
        (Derive.lonMicro(hub)
          + ((col("user_id") * 31L + slot * 7L) * 48271L) % 600001L - 300000L
          + (col("event_id") * 7919L) % 200001L - 100000L).as("lonm"),
        (Derive.latMicro(hub)
          + ((col("user_id") * 17L + slot * 11L) * 16807L) % 600001L - 300000L
          + ((col("event_id") + 3L) * 104729L) % 200001L - 100000L).as("latm"))
      Trajectory.nextCellEval(ev, col("user_id"), col("tus"), col("oid"),
          col("lonm"), col("latm"), cellMicro = 400000L, trainPermille = 700)
    }),
    // ---- WHT frequency-energy profile (q9t): integer-exact spectral
    //      sharpness over the corpus — per-image sequency-band L1 energies
    //      summed corpus-wide; the decode+pool+WHT chain must reproduce
    //      the generator's bit-grid spectrum exactly.
    "q9t_wht_energy" -> ((s, dir) => {
      operators.Multimodal.whtEnergy(Fixtures.images(s, 5000))
        .agg(count(lit(1)).as("n_images"), sum("dc_e").as("dc_total"),
          sum("low_e").as("low_total"), sum("high_e").as("high_total"))
    }),
    // ---- ST-DBSCAN (q9u): spatiotemporal density clustering [Birant & Kut
    //      2007] — q7m's spatial layout with a 3-phase pseudo-time, so each
    //      spatial cluster splits into per-phase EVENTS (within-phase jitter
    //      <= 5 ms < eps2 = 6 ms << the 20 ms phase gap). Same deterministic
    //      rule set; candidates from the (eps-cell × τ-bucket) grid — the
    //      co-location blocking — never an all-pairs stage; the oracle is
    //      the quadratic recursive min-propagation CTE with BOTH predicates.
    "q9u_st_dbscan" -> ((s, dir) => {
      val pts = customerPts(s, dir).withColumn("tus",
        ((col("c_custkey") * 104729L) % 3L) * 20000000L
          + (col("c_custkey") * 7919L) % 5000001L)
      Dbscan.clusterST(pts, col("c_custkey"), col("lonm"), col("latm"),
          col("tus"), eps1 = 8000000L, eps2 = 6000000L, minPts = 3)
        .orderBy("id")
    }),
    // ---- Visit concentration (qae): the predictability surrogate — how
    //      unevenly each user's fixes spread over its cells (Simpson Σn²);
    //      complements qa5's r_g (how FAR) with how UNEVENLY; slot fixture.
    "qae_visit_conc" -> ((s, dir) => {
      val hub = col("user_id") % 13L
      val slot = expr("(unix_micros(cast(ts as timestamp)) " +
        "- 1704067200000000) div 259200000000")
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id"),
        (Derive.lonMicro(hub)
          + ((col("user_id") * 31L + slot * 7L) * 48271L) % 600001L - 300000L
          + (col("event_id") * 7919L) % 200001L - 100000L).as("lonm"),
        (Derive.latMicro(hub)
          + ((col("user_id") * 17L + slot * 11L) * 16807L) % 600001L - 300000L
          + ((col("event_id") + 3L) * 104729L) % 200001L - 100000L).as("latm"))
      Trajectory.visitConcentration(ev, col("user_id"), col("lonm"),
          col("latm"), cellMicro = 400000L)
        .orderBy("entity")
    }),
    // ---- Join-count statistics (qad): categorical lattice autocorrelation
    //      — BB/BW/WW rook pairs of the thresholded density raster, the
    //      clumping-vs-checkerboard test closing the Moran/LISA/Gi* family.
    "qad_join_counts" -> ((s, dir) => {
      val hub = col("o_orderkey") % 37L
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        (Derive.lonMicro(hub) + (col("o_orderkey") * 48271L) % 9000001L
          - 4500000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("o_orderkey") + 7L) * 16807L) % 9000001L
          - 4500000L).as("latm"))
      operators.GridRaster.joinCounts(pts, col("lonm"), col("latm"),
        cellMicro = 2000000L, minCount = 10L)
    }),
    // ---- Clark–Evans NN components (qab): aggregation-vs-dispersion per
    //      category — observed mean NN distance components over the full
    //      pattern, the overdispersion reading density stats can't give.
    "qab_clark_evans" -> ((s, dir) => {
      val pts = customerPts(s, dir)
        .withColumn("cat", col("c_custkey") % 5L)
      operators.PointPattern.clarkEvans(pts, col("c_custkey"), col("cat"),
          col("lonm"), col("latm"), level = 6)
        .orderBy("cat")
    }),
    // ---- Quadrat-count dispersion (qac): the classical CSR quadrat test
    //      moments over the pattern's own bounding frame — empty quadrats
    //      are real observations carried by arithmetic, never materialized.
    "qac_quadrat" -> ((s, dir) => {
      operators.PointPattern.quadratCounts(customerPts(s, dir),
        col("lonm"), col("latm"), quadMicro = 10000000L)
    }),
    // ---- Streaming hotspot ignition (qaa): the first streaming RASTER
    //      operator — per-cell cumulative counts across THREE staged
    //      micro-batches, ONE exactly-once event on the fix that crosses
    //      threshold 20 (74 of 102 cells ignite; late batches matter —
    //      only cross-batch state reproduces the batch row_number twin).
    "qaa_stream_hotspot" -> ((s, dir) => {
      import java.nio.file.Files
      import s.implicits._
      val staged = Files.createTempDirectory("graft_qaa_src")
      val tmp = Files.createTempDirectory("graft_qaa_tmp").toString
      val hub = col("user_id") % 13L
      val tusC = unix_micros(col("ts").cast("timestamp"))
      val slot = expr("(unix_micros(cast(ts as timestamp)) " +
        "- 1704067200000000) div 259200000000")
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id").as("entity"), tusC.as("tus"),
        col("event_id").as("oid"),
        (Derive.lonMicro(hub)
          + ((col("user_id") * 31L + slot * 7L) * 48271L) % 600001L - 300000L
          + (col("event_id") * 7919L) % 200001L - 100000L).as("lon"),
        (Derive.latMicro(hub)
          + ((col("user_id") * 17L + slot * 11L) * 16807L) % 600001L - 300000L
          + ((col("event_id") + 3L) * 104729L) % 200001L - 100000L).as("lat"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("tus", "oid")
      val chunked = ev.withColumn("_c", ntile(3).over(w))
      (1 to 3).foreach { c =>
        chunked.where(col("_c") === c).drop("_c")
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/p$c")
        val f = new java.io.File(s"$tmp/p$c").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.copy(f.toPath, staged.resolve(s"fixes-$c.parquet"))
      }
      val tbl = Files.createTempDirectory("graft_qaa_tbl").toString
      val ckpt = Files.createTempDirectory("graft_qaa_ck").toString
      val stream = s.readStream.schema(chunked.drop("_c").schema)
        .option("maxFilesPerTrigger", 1).parquet(staged.toString)
        .as[graft.streaming.EventStream.Fix]
      val hot = graft.streaming.EventStream.streamingHotspots(stream,
        cellMicro = 400000L, threshold = 20L)
      val q = hot.toDF().writeStream
        .queryName("qaa")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(graft.streaming.EventStream.icebergBatchWriter(
          tbl, col("cx"), "qaa"))
        .start()
      q.awaitTermination()
      graft.sources.IcebergLite.read(s, tbl).orderBy("cx", "cy")
    }),
    // ---- Otsu threshold (qa9): per-image optimal binarization level —
    //      on two-tone generator images every valid split ties so the
    //      smallest-t rule lands exactly 51; single-tone images emit −1.
    "qa9_otsu" -> ((s, dir) => {
      operators.Multimodal.otsuThreshold(Fixtures.images(s, 5000))
        .groupBy("otsu_t")
        .agg(count(lit(1)).as("n_images"), sum("n_below").as("below_total"))
        .orderBy("otsu_t")
    }),
    // ---- Cluster deviational ellipses (qa8): centrographic SHAPE of each
    //      q7m DBSCAN site — exact int64 scatter-matrix components
    //      anchored per cluster; round blob vs corridor is the consumer's
    //      two float ops away. Noise excluded.
    "qa8_cluster_ellipse" -> ((s, dir) => {
      val pts = customerPts(s, dir)
      val labeled = Dbscan.cluster(pts, col("c_custkey"), col("lonm"),
          col("latm"), eps = 5000000L, minPts = 3)
        .where(col("cluster") =!= -1L)
        .join(pts.withColumnRenamed("c_custkey", "id"), "id")
      operators.PointPattern.ellipseComponents(labeled, col("cluster"),
          col("lonm"), col("latm"))
        .orderBy("label")
    }),
    // ---- Viterbi map matching (qa7): the sequence-consistent upgrade of
    //      q7t — each entity walks along a pair of parallel roads with GPS
    //      jitter that straddles both; per-fix nearest snapping ping-pongs,
    //      the switch penalty keeps the matched road stable. Query emits
    //      per-entity (n_fixes, total path cost); the oracle computes the
    //      DP MINIMUM independently, so equality certifies optimality.
    "qa7_viterbi" -> ((s, dir) => {
      val ent = (col("o_orderkey") - 1L) % 100L
      val idx = expr("(o_orderkey - 1) div 100")
      val fixes = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderkey") >= 1L &&
          expr("(o_orderkey - 1) div 100") < 6L)
        .select(ent.as("ent"), idx.as("tus"), col("o_orderkey").as("oid"),
          (Derive.lonMicro(ent * 7L + 1L) + idx * 20000L).as("lonm"),
          (Derive.latMicro(ent * 7L + 1L)
            + (col("o_orderkey") * 104729L) % 30001L - 15000L).as("latm"))
      val hub = col("s_suppkey") % 100L
      val segs = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey"), explode(array(lit(0L), lit(1L))).as("k"))
        .select((col("s_suppkey") * 2L + col("k")).as("sid"),
          (Derive.lonMicro(hub * 7L + 1L) - 50000L).as("x1"),
          (Derive.latMicro(hub * 7L + 1L) + col("k") * 20000L
            - 10000L).as("y1"),
          (Derive.lonMicro(hub * 7L + 1L) + 200000L).as("x2"),
          (Derive.latMicro(hub * 7L + 1L) + col("k") * 20000L
            - 10000L).as("y2"))
      operators.MapMatch.viterbiMatch(s, fixes, col("ent"), col("tus"),
          col("oid"), col("lonm"), col("latm"),
          segs, col("sid"), col("x1"), col("y1"), col("x2"), col("y2"),
          radiusMicro = 40000L, level = 13, switchPenalty = 800000000L)
        .groupBy(col("entity")).agg(count(lit(1)).as("n_fixes"),
          (sum("d2q") + lit(800000000L) * sum("switched")).as("total_cost"))
        .orderBy("entity")
    }),
    // ---- Label propagation communities (qa6): K synchronous rounds of
    //      "adopt the neighbors' most common label" with the total
    //      (−count, label) argmin rule — fixed-K snapshot, no convergence
    //      claim (sync LPA 2-cycles on bipartite structure); q91's graph.
    "qa6_lpa" -> ((s, dir) => {
      val ok = col("o_orderkey")
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val raw = orders.select(((ok * ok) % 2311L).as("x"),
          ((ok * 7919L + 13L) % ((ok % 389L) + 7L)).as("y"))
        .union(orders.select((ok % 14L + 10000L).as("x"),
          (ok % 14L + 10001L).as("y")))
      operators.Graph.labelPropagation(raw, col("x"), col("y"), rounds = 4)
        .orderBy("node")
    }),
    // ---- Focal median (qa4): rank-order smoothing over the occupied
    //      density surface — the salt-and-pepper denoiser a linear kernel
    //      can't be; lower median of the ≤9 present window values.
    "qa4_focal_median" -> ((s, dir) => {
      val hub = col("o_orderkey") % 37L
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        (Derive.lonMicro(hub) + (col("o_orderkey") * 48271L) % 9000001L
          - 4500000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("o_orderkey") + 7L) * 16807L) % 9000001L
          - 4500000L).as("latm"))
      operators.GridRaster.focalMedian(pts, col("lonm"), col("latm"),
          cellMicro = 2000000L)
        .orderBy("cx", "cy")
    }),
    // ---- Radius of gyration (qa5): the mobility-range statistic — per-
    //      entity integer components re-anchored to the entity's own min
    //      corner so Σd² never nears int64 overflow; slot fixture.
    "qa5_gyration" -> ((s, dir) => {
      val hub = col("user_id") % 13L
      val slot = expr("(unix_micros(cast(ts as timestamp)) " +
        "- 1704067200000000) div 259200000000")
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id"),
        (Derive.lonMicro(hub)
          + ((col("user_id") * 31L + slot * 7L) * 48271L) % 600001L - 300000L
          + (col("event_id") * 7919L) % 200001L - 100000L).as("lonm"),
        (Derive.latMicro(hub)
          + ((col("user_id") * 17L + slot * 11L) * 16807L) % 600001L - 300000L
          + ((col("event_id") + 3L) * 104729L) % 200001L - 100000L).as("latm"))
      Trajectory.radiusOfGyration(ev, col("user_id"), col("lonm"), col("latm"))
        .orderBy("entity")
    }),
    // ---- Zonal majority (qa3): the categorical half of zonal statistics
    //      — density raster reclassified by the {2,4,8} ladder, cell
    //      centers zone-joined to the fixed world rects, per-zone
    //      majority/minority/variety with deterministic ties.
    "qa3_zonal_majority" -> ((s, dir) => {
      val hub = col("o_orderkey") % 37L
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        (Derive.lonMicro(hub) + (col("o_orderkey") * 48271L) % 9000001L
          - 4500000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("o_orderkey") + 7L) * 16807L) % 9000001L
          - 4500000L).as("latm"))
      operators.GridRaster.zonalMajority(s, pts, col("lonm"), col("latm"),
          cellMicro = 2000000L, thresholds = Seq(2L, 4L, 8L),
          specs = Derive.rectSpecs)
        .orderBy("poly_id")
    }),
    // ---- Colocation quotient (qa2): NN-based categorical association —
    //      each point casts ONE vote (its nearest other point), so dense
    //      areas can't swamp the stat like radius counts; integer CLQ
    //      components per ordered category pair, zero-filled matrix.
    "qa2_clq" -> ((s, dir) => {
      val pts = customerPts(s, dir)
        .withColumn("cat", col("c_custkey") % 5L)
      operators.PointPattern.colocationQuotient(pts, col("c_custkey"),
          col("cat"), col("lonm"), col("latm"), level = 6)
        .orderBy("cat_a", "cat_b")
    }),
    // ---- Difference hash (qa1): the gradient-sign perceptual hash —
    //      immune to the global brightness shifts that flip avg-hash bits;
    //      on generator images the pooled cells ARE the phash bit blocks,
    //      so the oracle replays the popcount histogram from the closed
    //      form dh = (~p) & row-rotated(p).
    "qa1_dhash" -> ((s, dir) => {
      operators.Multimodal.dHash(Fixtures.images(s, 5000))
        .groupBy(expr("bit_count(dhash)").as("dh_pop"))
        .agg(count(lit(1)).as("n_images"),
          min("dhash").as("min_dh"), max("dhash").as("max_dh"))
        .orderBy("dh_pop")
    }),
    // ---- Epanechnikov KDE raster (qa0): the general-bandwidth hotspot
    //      surface (heatmap's 3×3 binomial is the fixed special case) —
    //      R=3 disk with precomputed integer weights w = ⌊scale(R²−d²)/R²⌋
    //      over the q9w hub scatter; halo cells receive spill with raw=0.
    "qa0_kde" -> ((s, dir) => {
      val hub = col("o_orderkey") % 37L
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        (Derive.lonMicro(hub) + (col("o_orderkey") * 48271L) % 9000001L
          - 4500000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("o_orderkey") + 7L) * 16807L) % 9000001L
          - 4500000L).as("latm"))
      operators.GridRaster.kde(pts, col("lonm"), col("latm"),
          cellMicro = 2000000L, bandwidthCells = 3)
        .orderBy("cx", "cy")
    }),
    // ---- Huff gravity allocation (q9z): the probabilistic catchment —
    //      each customer splits its population across reachable suppliers
    //      ∝ capacity/d² (quantized-integer weights, floor shares), sites
    //      zerofilled; the market-share complement of q9v's access score.
    "q9z_huff_alloc" -> ((s, dir) => {
      val dem = s.read.parquet(s"$dir/customer.parquet").select(
        col("c_custkey"),
        Derive.lonMicro(col("c_custkey")).as("lonm"),
        Derive.latMicro(col("c_custkey")).as("latm"),
        ((col("c_custkey") % 97L) + 1L).as("pop"))
      val sup = s.read.parquet(s"$dir/supplier.parquet").select(
        col("s_suppkey"),
        Derive.lonMicro(col("s_suppkey")).as("slon"),
        Derive.latMicro(col("s_suppkey")).as("slat"),
        (((col("s_suppkey") % 13L) + 1L) * 1000L).as("cap"))
      operators.Accessibility.huffAllocation(s,
          dem, col("c_custkey"), col("lonm"), col("latm"), col("pop"),
          sup, col("s_suppkey"), col("slon"), col("slat"), col("cap"),
          radiusMicro = 15000000L, level = 5,
          wScale = 1000000L, distQ = 1000000000000L)
        .orderBy("sid")
    }),
    // ---- Network dissolve (q9y): merge touching segments into polylines
    //      by exact shared-endpoint equality — chains derived from order
    //      keys with a deterministic ~9% segment drop, so chains fragment
    //      wherever a position is missing and the components have
    //      genuinely varied sizes. Node-star pairs (k−1 edges per degree-k
    //      junction) feed the star-contraction kernel; lengths ride the
    //      fixed IEEE chain.
    "q9y_dissolve" -> ((s, dir) => {
      val chain = col("o_orderkey") % 200L
      val pos = expr("o_orderkey div 200")
      val segs = s.read.parquet(s"$dir/orders.parquet")
        .where((col("o_orderkey") * 7919L) % 11L =!= 0L)
        .select(
        col("o_orderkey"),
        (Derive.lonMicro(chain) + pos * 300L).as("x1"),
        (Derive.latMicro(chain) + (pos * 16807L) % 80001L - 40000L).as("y1"),
        (Derive.lonMicro(chain) + (pos + 1L) * 300L).as("x2"),
        (Derive.latMicro(chain) + ((pos + 1L) * 16807L) % 80001L
          - 40000L).as("y2"))
      operators.Dissolve.dissolveSegments(segs, col("o_orderkey"),
          col("x1"), col("y1"), col("x2"), col("y2"))
        .orderBy("cluster")
    }),
    // ---- Luma-histogram concentration gate (q9x): the tonal-distribution
    //      curation stat — Simpson/Rényi-2 collision Σnᵢ², dominant-bin
    //      ppm, nonzero bins per image; generator images put every pixel
    //      in bin 3 (luma 50) or 12 (luma 200), so the oracle replays the
    //      corpus totals closed-form from each phash's popcount.
    "q9x_luma_hist" -> ((s, dir) => {
      operators.Multimodal.lumaHistogram(Fixtures.images(s, 5000))
        .groupBy("w", "h")
        .agg(count(lit(1)).as("n_images"), sum("collision").as("sum_coll"),
          sum("dominant_ppm").as("sum_dom"),
          min("nonzero_bins").as("min_nz"), max("nonzero_bins").as("max_nz"))
        .orderBy("w", "h")
    }),
    // ---- D8 flow accumulation (q9w): density-as-elevation hydrology over
    //      the q9j hub raster — each occupied cell flows to its minimum
    //      lower neighbor (deterministic integer variant of D8), acc counts
    //      the upstream cells draining through; basins are density peaks.
    //      Oracle replays the same rule set: window argmin + recursive
    //      path walk (forest ⇒ UNION ALL terminates).
    "q9w_flow_accum" -> ((s, dir) => {
      val hub = col("o_orderkey") % 37L
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        (Derive.lonMicro(hub) + (col("o_orderkey") * 48271L) % 9000001L
          - 4500000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("o_orderkey") + 7L) * 16807L) % 9000001L
          - 4500000L).as("latm"))
      operators.GridRaster.flowAccumulation(pts, col("lonm"), col("latm"),
          cellMicro = 2000000L)
        .orderBy("cx", "cy")
    }),
    // ---- 2SFCA accessibility (q9v): customers are demand (pop 1..97),
    //      suppliers are capacity sites — per-customer access = sum of
    //      reachable sites' fixed-point capacity/catchment-demand ratios
    //      [Luo & Wang 2003]. ONE cell-grid radius join reused by both
    //      steps; 309 of 1500 customers reach NO site at sf0.01 and come
    //      back zerofilled (a coverage gap is a result, not a missing row).
    "q9v_access_2sfca" -> ((s, dir) => {
      val dem = s.read.parquet(s"$dir/customer.parquet").select(
        col("c_custkey"),
        Derive.lonMicro(col("c_custkey")).as("lonm"),
        Derive.latMicro(col("c_custkey")).as("latm"),
        ((col("c_custkey") % 97L) + 1L).as("pop"))
      val sup = s.read.parquet(s"$dir/supplier.parquet").select(
        col("s_suppkey"),
        Derive.lonMicro(col("s_suppkey")).as("slon"),
        Derive.latMicro(col("s_suppkey")).as("slat"),
        (((col("s_suppkey") % 13L) + 1L) * 1000L).as("cap"))
      operators.Accessibility.twoStepFca(s,
          dem, col("c_custkey"), col("lonm"), col("latm"), col("pop"),
          sup, col("s_suppkey"), col("slon"), col("slat"), col("cap"),
          radiusMicro = 15000000L, level = 5)
        .orderBy("id")
    }),
    // ---- STREAMING trajectory sessionization: the q82 semantics as managed
    //      state — one TripState record per live entity carried across THREE
    //      micro-batches (global (tus, oid) order split into tertile files,
    //      so trips span batch boundaries and only cross-batch state can
    //      reproduce the batch twin), completed trips emitted exactly-once
    //      into the IcebergLite sink; a 4th past-horizon flush file closes
    //      each entity's final trip. Identical fixed IEEE hop chain → the
    //      oracle is the SAME SQL as the batch q82.
    "q85_stream_trips" -> ((s, dir) => {
      import java.nio.file.Files
      import s.implicits._
      val gapUs = 43200L * 1000000L
      val staged = Files.createTempDirectory("graft_q85_src")
      val tmp = Files.createTempDirectory("graft_q85_tmp").toString
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id").as("entity"),
        unix_micros(col("ts").cast("timestamp")).as("tus"),
        col("event_id").as("oid"),
        Derive.lonMicro(col("event_id")).as("lon"),
        Derive.latMicro(col("event_id")).as("lat"))
      val maxTus = ev.agg(max("tus")).as[Long].head()
      // fixture STAGING (not the operator): tertile files in global
      // (tus, oid) order so per-entity arrival order across micro-batches
      // matches the batch ordering; the single-partition window is staging-
      // only scaffolding
      val w = org.apache.spark.sql.expressions.Window.orderBy("tus", "oid")
      val chunked = ev.withColumn("_c", ntile(3).over(w))
      (1 to 3).foreach { c =>
        chunked.where(col("_c") === c).drop("_c")
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/p$c")
        val f = new java.io.File(s"$tmp/p$c").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.copy(f.toPath, staged.resolve(s"fixes-$c.parquet"))
      }
      // flush file: one past-horizon fix per entity closes its last trip
      // (the flush fix itself parks as an unemitted 1-fix trip in state)
      ev.select(col("entity")).distinct()
        .select(col("entity"), lit(maxTus + gapUs + 1L).as("tus"),
          lit(-1L).as("oid"), lit(0L).as("lon"), lit(0L).as("lat"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/p4")
      val f4 = new java.io.File(s"$tmp/p4").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f4.toPath, staged.resolve(s"fixes-4.parquet"))

      val tbl = Files.createTempDirectory("graft_q85_tbl").toString
      val ckpt = Files.createTempDirectory("graft_q85_ck").toString
      val stream = s.readStream.schema(chunked.drop("_c").schema)
        .option("maxFilesPerTrigger", 1).parquet(staged.toString)
        .as[graft.streaming.EventStream.Fix]
      val trips = graft.streaming.EventStream.streamingTrips(stream, gapUs)
      val q = trips.toDF().writeStream
        .queryName("q85")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(graft.streaming.EventStream.icebergBatchWriter(
          tbl, col("entity"), "q85"))
        .start()
      q.awaitTermination()
      graft.sources.IcebergLite.read(s, tbl).orderBy("entity", "trip_no")
    }),
    // ---- STREAMING geospatial ingest (J on axis A): the tile-assignment
    //      transform run as a Structured Streaming job over a 3-file landing
    //      directory with maxFilesPerTrigger=1 — THREE micro-batches, each
    //      committing one exactly-once IcebergLite snapshot (batchId inside
    //      the snapshot commit) — then a batch per-tile rollup of the
    //      ingested table. Oracle: the batch twin (q02's tile algebra +
    //      GROUP BY), which only matches if every row arrived exactly once
    //      across the multi-batch run.
    "q70_stream_tiles" -> ((s, dir) => {
      import java.nio.file.{Files, Paths}
      val staged = Files.createTempDirectory("graft_q70_src")
      val tmp = Files.createTempDirectory("graft_q70_tmp").toString
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"),
          Derive.lonMicro(col("o_orderkey")).as("lonm"),
          Derive.latMicro(col("o_orderkey")).as("latm"))
      orders.repartition(3).write.parquet(s"$tmp/split")
      new java.io.File(s"$tmp/split").listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          Files.copy(f.toPath, staged.resolve(s"f$i.parquet")) }
      val tbl = Files.createTempDirectory("graft_q70_tbl").toString
      val ckpt = Files.createTempDirectory("graft_q70_ck").toString
      val stream = s.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      val tiled = SpatialJoin.assignTiles(stream, col("lonm"), col("latm"), 8)
        .select("o_orderkey", "tile_z", "tile_x", "tile_y")
      val q = tiled.writeStream
        .queryName("q70")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(graft.streaming.EventStream.icebergBatchWriter(
          tbl, col("o_orderkey"), "q70"))
        .start()
      q.awaitTermination()
      graft.sources.IcebergLite.read(s, tbl)
        .groupBy("tile_z", "tile_x", "tile_y")
        .agg(count(lit(1)).as("n_points"))
        .orderBy("tile_x", "tile_y")
    }),
    // ---- PQ-COMPRESSED persisted IVF (FAISS IVFPQ shape): lists store m
    //      one-byte codes per vector instead of the full vector; query =
    //      partition-pruned scan + codegen ADC + exact re-rank of top-C
    //      against the primary store. Same recall-bound contract as q6a;
    //      the ≥4x on-disk shrink at equal recall is gated in
    //      SimilaritySpec.
    "q6f_ivf_pq" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq_q6f").toString
      Similarity.ivfPqBuildSave(s, emb, "vec_id", "embedding", idx, lloydRounds = 2)
      val ann = Similarity.ivfPqQueryIndex(s, idx, emb, q, "vec_id", "embedding",
        k = 10, nprobe = 24, rerankC = 100)
      val exact = Similarity.topKL2(emb, q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    }),
    // ---- leakage-safe split: near-dup clusters are atomic — all members
    //      share one split, so a near-copy of a train doc can never leak
    //      into val/test (pairs = the q52 LSH set; singletons self-cluster)
    "q6b_leakage_safe_split" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
        n = 3, threshold = 0.5, bands = 16)
      TextAnalysis.leakageSafeSplit(docs, col("doc_id"), pairs, "split-v1")
        .orderBy("doc_id")
    }),
    // ---- deterministic stratified sampling: per-language rates via
    //      content-addressed hash buckets (reproducible, shuffle-proof)
    "q57_stratified_sample" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("bucket", TextAnalysis.hashBucket(col("doc_id"), "sample-v1"))
      val rate = when(col("lang") === "en", 10).otherwise(30) // en downsampled
      d.where(col("bucket") < rate).select("doc_id", "lang").orderBy("doc_id")
    }),
    // ---- train/val/test split: 80/10/10 by the same hash-bucket scheme
    "q58_dataset_split" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("bucket", TextAnalysis.hashBucket(col("doc_id"), "split-v1"))
        .withColumn("split", when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val").otherwise("test"))
      d.groupBy("split").agg(count(lit(1)).as("n"),
          min("doc_id").as("first_id")).orderBy("split")
    }),
    // ---- the WHOLE training-data pipeline as one job: quality gate →
    //      exact dedup (min-id per normalized text) → eval-set
    //      decontamination → deterministic split. Every stage is an
    //      already-oracled operator; this query proves they COMPOSE (the
    //      thing a real user runs) and the oracle recomputes the full chain.
    "q66_pipeline_e2e" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val kept = TextAnalysis.quality(docs, col("doc_id"), col("text"))
        .where(col("keep")).select("doc_id")
      // stage boundary materialized: keepFirst scans its input twice and
      // `deduped` is referenced twice below — lazy composition re-runs the
      // quality scan up to 4x (measured 185 s vs 40 s at the 8M stress
      // scale; at 100 TB this boundary is a parquet write between stages)
      val deduped = Dedup.keepFirst(docs.join(kept, "doc_id"),
        col("doc_id"), TextAnalysis.normalize(col("text"))).localCheckpoint()
      val corpus = deduped.where(col("doc_id") % 50 =!= 0)
      val contaminated = Dedup.decontaminate(
          corpus, col("doc_id"), col("text"),
          docs.where(col("doc_id") % 50 === 0), col("doc_id"), col("text"),
          n = 3, minHits = 3)
        .select("doc_id").distinct()
      corpus.join(contaminated, Seq("doc_id"), "left_anti")
        .withColumn("bucket", TextAnalysis.hashBucket(col("doc_id"), "split-v1"))
        .withColumn("split", when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val").otherwise("test"))
        .select("doc_id", "lang", "split").orderBy("doc_id")
    }),
    // ---- LEARNED BPE vocabulary (Sennrich et al. 2016): 8 trained merges
    //      over the corpus. The corpus-scale stage is ONE distributed
    //      word-frequency aggregate; the merge loop runs on the driver over
    //      that bounded sketch (the subword-nmt/fastBPE layout). The DuckDB
    //      twin re-derives every round — pair counts, tie-break, and the
    //      greedy run-position apply — from the raw table.
    "q6i_bpe_train" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.bpeTrain(s.read.parquet(s"$dir/documents.parquet"),
          col("text"), numMerges = 8)
        .map(m => (m.rank, m.lhs, m.rhs, m.cnt)).toDF("rank", "lhs", "rhs", "cnt")
        .orderBy("rank")
    }),
    // ---- distributed BPE ENCODE with the learned table: per-token merges
    //      in rank order (same greedy rule as training ⇒ encoding the
    //      training corpus reproduces the trainer's final state, which is
    //      what the oracle recomputes); output = top-30 piece frequencies.
    "q6j_bpe_encode" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val merges = TextAnalysis.bpeTrain(docs, col("text"), numMerges = 8)
      TextAnalysis.bpeEncode(docs, col("doc_id"), col("text"), merges)
        .select(explode(col("pieces")).as("piece"))
        .groupBy("piece").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("piece")).limit(30)
    }),
    // ---- vocabulary building: corpus term frequencies, top-50 tokens
    //      (tokenizer-prep shape: explode → count → top-k)
    "q56_vocab" -> ((s, dir) => {
      val toks = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), explode(Dedup.tokens(lower(col("text")))).as("token"))
      toks.groupBy("token")
        .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
        .orderBy(col("tf").desc, col("token")).limit(50)
    }),
    // ---- end-to-end embedding dedup: near-dup pairs → connected
    //      components → drop non-canonical rows (the full pipeline shape)
    "q59_embed_dedup_keep" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val pairs = Similarity.cosineNearDupPairsExact(emb, "vec_id", "embedding", 0.45)
        .select(col("id_a"), col("id_b"))
      val clusters = Dedup.dupClusters(pairs.withColumn("jaccard", lit(1.0)))
      val drop = clusters.where(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as("vec_id"))
      emb.join(drop, Seq("vec_id"), "left_anti")
        .select("vec_id", "label").orderBy("vec_id")
    }),
    // ---- vocab at scale: mergeable heavy-hitters summary per language.
    //      ORACLED via the SpaceSaving guarantee as a driver-checkable
    //      boolean: each reported (grp, rank) estimate must satisfy
    //      true ≤ est ≤ true + err against EXACT token counts computed in
    //      Spark; the oracle asserts the same per-rank booleans (langs ×
    //      ranks 1..m are deterministic). Merge-path one-sidedness is what
    //      the round-3 SpaceSaving merge fix guarantees.
    "q34_vocab_sketch" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val sk = TextAnalysis.vocabSketch(docs, col("text"), col("lang"), k = 200, m = 10)
      val exact = docs.select(col("lang").as("grp"),
          explode(Dedup.tokens(lower(col("text")))).as("token"))
        .groupBy("grp", "token").agg(count(lit(1)).as("_true"))
      sk.join(exact, Seq("grp", "token"), "left")
        .select(col("grp"), col("rank"),
          (col("est_count") >= coalesce(col("_true"), lit(0L)) &&
           col("est_count") - col("max_err") <= coalesce(col("_true"), lit(0L)))
            .as("within_bound"))
        .orderBy("grp", "rank")
    }),
    // ---- quality scoring (Gopher-style keep rule)
    "q51_quality" -> ((s, dir) => {
      TextAnalysis.quality(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text")).orderBy("doc_id")
    }),
    // ---- Gopher repetition rules: duplicate-bigram fraction + top-bigram
    //      share, one codegen kernel pass (sort + run-length, no HashMap)
    "q68_repetition" -> ((s, dir) => {
      TextAnalysis.repetition(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text")).orderBy("doc_id")
    }),
    // ---- multimodal image ops over the fixture image table (binary column
    //      + typed metadata; real raw/png decode). ORACLED: per-fmt counts
    //      derive from the generator's fmt rule (VALUES from the same
    //      Fixtures constants, not from running the operator), and the
    //      decode-integrity booleans (recomputed phash == stored phash,
    //      re-encode roundtrip PSNR ≥ 40 dB) are guarantees the oracle
    //      asserts — a decode regression turns the row red at the driver.
    "q62_image_meta" -> ((s, dir) => {
      operators.Multimodal.decodeMeta(Fixtures.images(s, 5000))
        .groupBy("fmt").agg(count(lit(1)).as("n"),
          min(col("phash_match").cast("int")).as("all_match"),
          min((col("roundtrip_psnr_db") >= 40.0).cast("int")).as("all_psnr_ok"))
        .orderBy("fmt")
    }),
    // ---- JOINT image+caption curation (the axes-A+B composition): planted
    //      re-uploads (rows 0..499 re-labeled with an xdup- prefix, same
    //      bytes/phash/caption) → exact phash dedup with min-id canonical
    //      election → real-decode integrity gates → min-resolution filter on
    //      DECODED pixels → caption wordpiece accounting of the kept set.
    //      Oracle: per-fmt VALUES derived from the SAME generator rules
    //      (locOf/dimsOf/fmtOf/captionOf) without decoding anything.
    "q6p_image_curate" -> ((s, dir) => {
      val base = Fixtures.images(s, 5000)
      val dups = base.where(col("image_id") < lit(f"img${500L}%012d"))
        .withColumn("image_id", concat(lit("xdup-"), col("image_id")))
      operators.Multimodal.curateImages(base.unionByName(dups), minPixels = 2048)
        .orderBy("fmt")
    }),
    // ---- aspect-ratio bucketing (SDXL-style multi-aspect batching): every
    //      image to its nearest-ratio bucket by exact integer cross-
    //      multiplication, ties to the lowest index; per-bucket loader
    //      report. Oracle: VALUES from the dims generator rule + the same
    //      integer argmin.
    "q6z_aspect_bucket" -> ((s, dir) => {
      operators.Multimodal.aspectBucket(Fixtures.images(s, 5000), AspectBuckets)
        .groupBy("bucket_id", "bucket_w", "bucket_h")
        .agg(count(lit(1)).as("n_images"),
          sum(col("w").cast("long") * col("h")).as("total_src_pixels"))
        .orderBy("bucket_id")
    }),
    // ---- RASTER↔VECTOR zonal statistics (the north star's own composition):
    //      real pixel decode (narrow) → phash-decoded location → generic
    //      cover-cell polygon join → exact-int64 per-zone aggregate.
    //      Oracle: VALUES derived from the generator rules alone (locOf →
    //      phash → popcount pixel rule, dimsOf → block size, inclusive
    //      rect containment — same boundary rule the raycast locks).
    "q6w_zonal_stats" -> ((s, dir) => {
      operators.Multimodal.zonalStats(s, Fixtures.images(s, 5000), Derive.rectSpecs)
        .orderBy("poly_id")
    }),
    // ---- RASTER mosaic tile rendering: per-image 8×8 block-luma sums
    //      aggregated elementwise into one mosaic grid per z=4 map tile via
    //      the mergeable vector-sum aggregate (one partial grid per
    //      (task,tile) through the shuffle — never a posexplode fan-out).
    //      mosaic_fp is a position-weighted checksum computed FROM the
    //      aggregated grid; the oracle re-derives it by linearity from the
    //      generator's bit→block rule.
    "q6x_tile_mosaic" -> ((s, dir) => {
      operators.Multimodal.tileMosaic(Fixtures.images(s, 5000), z = 4, grid = 8)
        .withColumn("mosaic_fp",
          aggregate(zip_with(col("mosaic"), sequence(lit(1L), lit(64L)),
            (v, w) => v * w), lit(0L), (a, x) => a + x))
        .select("tile_z", "tile_x", "tile_y", "n_images", "total_pixels", "mosaic_fp")
        .orderBy("tile_x", "tile_y")
    }),
    // ---- RASTER overview pyramid (gdaladdo/COG-overviews shape): the z=4
    //      mosaic plus its z=3 level from ONE spatial 2×2 fold — each child
    //      tile's grid scatters into its quadrant of the parent, 4 child
    //      cells per parent cell, aggregated through the same mergeable
    //      vec_sum. Oracle: VALUES by linearity from the generator's
    //      bit→block rule, with the quadrant mapping composed for z=3.
    "q7d_tile_pyramid" -> ((s, dir) => {
      operators.Multimodal.tilePyramid(Fixtures.images(s, 5000), z = 4, zMin = 3)
        .withColumn("mosaic_fp",
          aggregate(zip_with(col("mosaic"), sequence(lit(1L), lit(64L)),
            (v, w) => v * w), lit(0L), (a, x) => a + x))
        .select("tile_z", "tile_x", "tile_y", "n_images", "total_pixels", "mosaic_fp")
        .orderBy("tile_z", "tile_x", "tile_y")
    }),
    // ---- image decode → block-mean embedding → exact top-k bridge.
    //      ORACLED structurally: the oracle recomputes the query count from
    //      the generator's id+crc32 rule and asserts the contract booleans
    //      (exactly k ranked rows per query, dots non-increasing by rank,
    //      self excluded) — value-level dot parity is impossible without an
    //      image decoder in the oracle engine, but a decode/feature/top-k
    //      pipeline break flips one of these to false.
    "q63_image_embed_topk" -> ((s, dir) => {
      val feats = operators.Multimodal.features(Fixtures.images(s, 2000))
      val tk = Similarity.topKDot(feats, feats.where(crc32(col("image_id")) % 100 === 0),
        "image_id", "embedding", k = 5)
      val w = Window.partitionBy("qid").orderBy("rank")
      tk.withColumn("_prev", lag("dot", 1).over(w))
        .agg(count_distinct(col("qid")).as("n_queries"),
          (count(lit(1)) === count_distinct(col("qid")) * 5).as("all_k"),
          min((col("_prev").isNull || col("_prev") >= col("dot")).cast("int"))
            .cast("boolean").as("ranks_sorted"),
          min((col("qid") =!= col("nid")).cast("int")).cast("boolean").as("no_self"))
    }),
    // ---- frame sampling (video-pipeline shape). ORACLED: per-image frame
    //      counts are a closed form of the generator's height rule
    //      (ceil((h/frameH)/stride)); the oracle derives the expected
    //      (n_frames, n_images) histogram from Fixtures.dimsOf — the
    //      operator must decode and fan out to exactly those counts.
    "q64_frame_sample" -> ((s, dir) => {
      operators.Multimodal.sampleFrames(Fixtures.images(s, 2000), frameH = 8, stride = 2)
        .groupBy("image_id").agg(count(lit(1)).as("n_frames"))
        .groupBy("n_frames").agg(count(lit(1)).as("n_images"))
        .orderBy("n_frames")
    }),
    // ---- checkpoint/resume with per-partition lineage: a per-customer
    //      aggregation deliberately run as partial attempt + resume; the
    //      oracle checks the recovered result equals the plain aggregation
    "q61_checkpoint_agg" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_ckpt_q61").toString
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val transform: DataFrame => DataFrame =
        df => df.groupBy(col("_bucket"), col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"))
      // first attempt covers only half the buckets, second resumes the rest
      graft.plans.CheckpointedRun.runAttempt(s, orders, col("o_custkey"), transform,
        numBuckets = 8, out, "q61", maxBuckets = 4)
      graft.plans.CheckpointedRun.runToCompletion(s, orders, col("o_custkey"), transform,
          numBuckets = 8, out, "q61")
        .select("o_custkey", "n_orders").orderBy("o_custkey")
    }),
    // ---- H7/H8: contribution classification (diff consecutive versions)
    "q19_contributions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("prev", lag("value", 1).over(w))
        .withColumn("kind", when(col("prev").isNull, "CREATION")
          .when(col("value") =!= col("prev"), "VALUE_CHANGE")
          .otherwise("NO_CHANGE"))
        .groupBy("kind").agg(count(lit(1)).as("cnt"))
        .orderBy("kind")
    }),
    // ---- H7/H8 FULL ContributionType enum (upstream: {CREATION, DELETION,
    //      TAG_CHANGE, GEOMETRY_CHANGE} as an EnumSet): DELETION via the
    //      tombstone convention (event_type='error' ⇒ visible=false; the
    //      next visible version is a re-CREATION), TAG_CHANGE from the
    //      props column, VALUE_CHANGE standing in for GEOMETRY_CHANGE —
    //      both at once kept as the canonical joined set. State is one lag
    //      deep by construction (comparisons only against a VISIBLE
    //      predecessor), so the whole kernel is a single window pass.
    "q6e_contribution_types" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val e = s.read.parquet(s"$dir/events.parquet")
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .withColumn("prev_value", lag("value", 1).over(w))
        .withColumn("prev_props", lag("props", 1).over(w))
      val tomb = col("event_type") === lit("error")
      val prevVisible = col("prev_type").isNotNull && col("prev_type") =!= lit("error")
      e.withColumn("kinds",
          when(tomb, when(prevVisible, lit("DELETION")).otherwise(lit("NO_CHANGE")))
            .when(!prevVisible, lit("CREATION"))
            .when(col("props") =!= col("prev_props") && col("value") =!= col("prev_value"),
              lit("TAG_CHANGE+VALUE_CHANGE"))
            .when(col("props") =!= col("prev_props"), lit("TAG_CHANGE"))
            .when(col("value") =!= col("prev_value"), lit("VALUE_CHANGE"))
            .otherwise(lit("NO_CHANGE")))
        .groupBy("kinds")
        .agg(count(lit(1)).as("cnt"), countDistinct("user_id").as("n_users"))
        .orderBy("kinds")
    }))

  /** cos as the fixed degree-12 Horner polynomial over `z` = φ² — the SAME
    * shortest-repr double literals the Scala kernel
    * (SpatialJoin.cosPoly) evaluates, so DuckDB and the JVM produce
    * bit-identical doubles (libm cos may differ by 1 ulp between engines).
    */
  private def cosPolySql(z: String): String =
    s"1.0 + $z * (-0.5 + $z * (0.041666666666666664 + $z * (-0.001388888888888889 + " +
      s"$z * (2.48015873015873e-05 + $z * (-2.755731922398589e-07 + $z * 2.08767569878681e-09)))))"

  /** Shared DBSCAN label derivation (q7m/q7p): quadratic neighbor join,
    * core by degree, recursive min-propagation components, min-core-
    * neighbor borders — ends with `lbl(id, cluster)` for every point
    * (noise = -1). Must stay the exact rule set `operators.Dbscan`
    * implements.
    */
  /** Shared trip-segmentation CTE chain (p → l → f → t): per-user fixes,
    * lag pairs, dwell-gap trip starts, running trip numbers + the fixed
    * IEEE hop. Heads the q82/q85 twin and the q89 OD-matrix twin.
    */
  private def tripsCtes: String =
    s"""p AS (SELECT user_id, epoch_us(ts) AS tus, event_id,
       |  ${Derive.lonSql("event_id")} AS lonm,
       |  ${Derive.latSql("event_id")} AS latm FROM events),
       |l AS (SELECT *, lag(tus) OVER w AS ptus, lag(lonm) OVER w AS plon,
       |  lag(latm) OVER w AS plat FROM p
       |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
       |f AS (SELECT *, CASE WHEN ptus IS NULL OR tus - ptus > 43200000000
       |  THEN 1 ELSE 0 END AS nt FROM l),
       |t AS (SELECT *, CAST(SUM(nt) OVER (PARTITION BY user_id
       |    ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) - 1
       |    AS BIGINT) AS trip_no,
       |  CASE WHEN nt = 1 THEN 0 ELSE CAST(floor(sqrt(
       |    CAST(lonm - plon AS DOUBLE) * CAST(lonm - plon AS DOUBLE) +
       |    CAST(latm - plat AS DOUBLE) * CAST(latm - plat AS DOUBLE)))
       |    AS BIGINT) END AS hop FROM f)""".stripMargin

  /** Batch sessionization twin (q82) — also the oracle for the STREAMING
    * q85: managed-state session windows with full flush must reproduce the
    * batch operator exactly, hop chain and all.
    */
  private def tripsOracleSql: String =
    s"""WITH $tripsCtes
       |SELECT user_id AS entity, trip_no, count(*) AS n_pts,
       |  min(tus) AS start_us, max(tus) - min(tus) AS dur_us,
       |  CAST(sum(hop) AS BIGINT) AS len_q
       |FROM t GROUP BY 1, 2 ORDER BY entity, trip_no""".stripMargin

  /** Batch stay-point twin (q99) — also the oracle for the STREAMING q9c:
    * window replay of the (t, oid) order, cell-change run numbering and
    * post-aggregate gates over the slot-anchored jittered fixture.
    */
  private def stayPointsOracleSql: String =
    s"""WITH f AS (SELECT user_id AS ent, epoch_us(ts) AS tus,
       |  event_id AS oid,
       |  ${Derive.lonSql("(user_id % 13)")}
       |    + ((user_id * 31 + ((epoch_us(ts) - 1704067200000000)
       |        // 259200000000) * 7) * 48271) % 600001 - 300000
       |    + (event_id * 7919) % 200001 - 100000 AS lon,
       |  ${Derive.latSql("(user_id % 13)")}
       |    + ((user_id * 17 + ((epoch_us(ts) - 1704067200000000)
       |        // 259200000000) * 11) * 16807) % 600001 - 300000
       |    + ((event_id + 3) * 104729) % 200001 - 100000 AS lat
       |  FROM events),
       |c AS (SELECT ent, tus, oid, (lon + 180000000) // 400000 AS cx,
       |  (lat + 90000000) // 400000 AS cy FROM f),
       |l AS (SELECT *, CASE WHEN lag(cx) OVER w IS NULL
       |    OR lag(cx) OVER w <> cx OR lag(cy) OVER w <> cy
       |  THEN 1 ELSE 0 END AS nw FROM c
       |  WINDOW w AS (PARTITION BY ent ORDER BY tus, oid)),
       |r AS (SELECT *, sum(nw) OVER (PARTITION BY ent ORDER BY tus, oid
       |  ROWS UNBOUNDED PRECEDING) AS run FROM l)
       |SELECT ent AS entity, min(cx) AS cx, min(cy) AS cy,
       |  min(tus) AS enter_us, max(tus) AS exit_us, count(*) AS n_fixes
       |FROM r GROUP BY ent, run
       |HAVING max(tus) - min(tus) >= 86400000000 AND count(*) >= 3
       |ORDER BY entity, enter_us""".stripMargin

  /** Geofence transition twin (q9d) — also the oracle for the STREAMING
    * q9e: flag-series replay with the same fixture, inclusive containment
    * and lag-with-0-default transition filter.
    */
  private def geofenceOracleSql: String =
    s"""WITH f AS (SELECT user_id AS ent, epoch_us(ts) AS tus,
       |  event_id AS oid,
       |  ${Derive.lonSql("(user_id % 13)")}
       |    + ((user_id * 31 + ((epoch_us(ts) - 1704067200000000)
       |        // 259200000000) * 7) * 48271) % 600001 - 300000
       |    + (event_id * 7919) % 200001 - 100000 AS lon,
       |  ${Derive.latSql("(user_id % 13)")}
       |    + ((user_id * 17 + ((epoch_us(ts) - 1704067200000000)
       |        // 259200000000) * 11) * 16807) % 600001 - 300000
       |    + ((event_id + 3) * 104729) % 200001 - 100000 AS lat
       |  FROM events),
       |fc AS (SELECT CAST(j AS BIGINT) AS fence_id,
       |  ${Derive.lonSql("j")} - 250000 AS lon_min,
       |  ${Derive.latSql("j")} - 250000 AS lat_min,
       |  ${Derive.lonSql("j")} + 250000 AS lon_max,
       |  ${Derive.latSql("j")} + 250000 AS lat_max
       |  FROM (SELECT unnest(generate_series(0, 12)) AS j)),
       |x AS (SELECT f.ent, fc.fence_id, f.tus, f.oid,
       |  CASE WHEN f.lon >= fc.lon_min AND f.lon <= fc.lon_max
       |    AND f.lat >= fc.lat_min AND f.lat <= fc.lat_max
       |  THEN 1 ELSE 0 END AS i FROM f CROSS JOIN fc),
       |l AS (SELECT ent, fence_id, tus, i, COALESCE(lag(i) OVER (
       |  PARTITION BY ent, fence_id ORDER BY tus, oid), 0) AS pi FROM x)
       |SELECT ent AS entity, fence_id, tus, CAST(i AS BIGINT) AS enter
       |FROM l WHERE i <> pi ORDER BY entity, fence_id, tus""".stripMargin

  private def dbscanCteSql: String = dbscanCteSqlBody(
    s"""SELECT c_custkey AS id,
       |  ${Derive.lonSql("c_custkey")} AS x, ${Derive.latSql("c_custkey")} AS y
       |  FROM customer""".stripMargin,
    "(a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 25000000000000")

  /** q9u twin: q7m's spatial CTE with the 3-phase pseudo-time and the
    * conjunctive ST neighborhood predicate.
    */
  private def stDbscanCteSql: String = dbscanCteSqlBody(
    s"""SELECT c_custkey AS id,
       |  ${Derive.lonSql("c_custkey")} AS x, ${Derive.latSql("c_custkey")} AS y,
       |  ((c_custkey * 104729) % 3) * 20000000
       |    + (c_custkey * 7919) % 5000001 AS t
       |  FROM customer""".stripMargin,
    """(a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 64000000000000
      |    AND abs(a.t - b.t) <= 6000000""".stripMargin)

  /** Quadratic-neighbor recursive min-propagation DBSCAN labeling, shared
    * by the spatial (q7m/q7p) and spatiotemporal (q9u) twins: `ptsSql`
    * defines (id, x, y[, t]), `nbrPred` the neighborhood predicate over
    * aliases a/b; minPts = 3 in both uses.
    */
  private def dbscanCteSqlBody(ptsSql: String, nbrPred: String): String =
    s"""WITH RECURSIVE pts AS ($ptsSql),
       |nbr AS (SELECT a.id AS ida, b.id AS idb FROM pts a, pts b
       |  WHERE $nbrPred),
       |core AS (SELECT ida AS id FROM nbr GROUP BY ida HAVING count(*) >= 3),
       |ce AS (SELECT n.ida, n.idb FROM nbr n
       |  JOIN core a ON n.ida = a.id JOIN core b ON n.idb = b.id),
       |comp(id, lbl) AS (SELECT id, id FROM core
       |  UNION SELECT ce.idb, c.lbl FROM comp c JOIN ce ON ce.ida = c.id),
       |clbl AS (SELECT id, min(lbl) AS cl FROM comp GROUP BY id),
       |border AS (SELECT n.ida AS id, min(c.cl) AS cl FROM nbr n
       |  JOIN clbl c ON n.idb = c.id
       |  WHERE n.ida <> n.idb AND n.ida NOT IN (SELECT id FROM core)
       |  GROUP BY n.ida),
       |lbl AS (SELECT p.id, CAST(coalesce(cl.cl, b.cl, -1) AS BIGINT) AS cluster
       |  FROM pts p LEFT JOIN clbl cl ON p.id = cl.id
       |  LEFT JOIN border b ON p.id = b.id)""".stripMargin

  /** DuckDB twins (same table names = parquet basenames in sfDir). */
  def oracleSql: Map[String, String] = Map(
    "q01_spatial_join" ->
      s"""SELECT c.c_custkey AS c_custkey, r.poly_id AS poly_id
         |FROM customer c JOIN ${Derive.rectsSqlValues}
         |ON ${Derive.lonSql("c.c_custkey")} BETWEEN r.lon_min AND r.lon_max
         |AND ${Derive.latSql("c.c_custkey")} BETWEEN r.lat_min AND r.lat_max
         |ORDER BY c_custkey, poly_id""".stripMargin,
    "q07_geo_metric_filter" -> {
      def a(p: String) = Derive.rectAreaSql(s"${p}_lo", s"${p}_la", s"${p}_hi", s"${p}_ha")
      def pm(p: String) = Derive.rectPerimeterSql(s"${p}_lo", s"${p}_la", s"${p}_hi", s"${p}_ha")
      s"""WITH rp AS (SELECT poly_id, 'rect' AS kind, 'polygon' AS geom_type, 4 AS n_vertices,
         |  ${Derive.rectAreaSql("lon_min", "lat_min", "lon_max", "lat_max")} AS area,
         |  ${Derive.rectPerimeterSql("lon_min", "lat_min", "lon_max", "lat_max")} AS per
         |  FROM ${Derive.rectsSqlValues}),
         |mp AS (SELECT poly_id, 'multi' AS kind, 'multipolygon' AS geom_type, 12 AS n_vertices,
         |  ${a("a")} - ${a("h")} + ${a("b")} AS area,
         |  ${pm("a")} + ${pm("h")} + ${pm("b")} AS per
         |  FROM ${Derive.multisSqlValues}),
         |u AS (SELECT * FROM rp UNION ALL SELECT * FROM mp)
         |SELECT poly_id, kind, geom_type, n_vertices FROM u
         |WHERE geom_type IN ('polygon', 'multipolygon')
         |  AND area BETWEEN 8e12 AND 2e13 AND NOT per >= 3e7
         |ORDER BY poly_id""".stripMargin
    },
    "q0f_multipolygon_join" ->
      s"""SELECT c.c_custkey AS c_custkey, m.poly_id AS poly_id
         |FROM customer c JOIN ${Derive.multisSqlValues}
         |ON ((${Derive.lonSql("c.c_custkey")} BETWEEN m.a_lo AND m.a_hi
         |     AND ${Derive.latSql("c.c_custkey")} BETWEEN m.a_la AND m.a_ha
         |     AND NOT (${Derive.lonSql("c.c_custkey")} > m.h_lo AND ${Derive.lonSql("c.c_custkey")} < m.h_hi
         |              AND ${Derive.latSql("c.c_custkey")} > m.h_la AND ${Derive.latSql("c.c_custkey")} < m.h_ha))
         |    OR (${Derive.lonSql("c.c_custkey")} BETWEEN m.b_lo AND m.b_hi
         |        AND ${Derive.latSql("c.c_custkey")} BETWEEN m.b_la AND m.b_ha))
         |ORDER BY c_custkey, poly_id""".stripMargin,
    "q02_tile_assign" ->
      s"""WITH pts AS (SELECT o_orderkey, ${Derive.lonSql("o_orderkey")} AS lonm,
         |  ${Derive.latSql("o_orderkey")} AS latm FROM orders)
         |SELECT o_orderkey, 8 AS tile_z,
         |  ((lonm + 180000000) * 256) // 360000000 AS tile_x,
         |  ((90000000 - latm) * 256) // 180000000 AS tile_y
         |FROM pts ORDER BY o_orderkey""".stripMargin,
    "q75_clip_area" ->
      s"""WITH f AS (SELECT c_custkey,
         |  ${Derive.lonSql("c_custkey")} - (c_custkey * 6101) % 1500001 AS flo,
         |  ${Derive.latSql("c_custkey")} - (c_custkey * 9203) % 1500001 AS fla,
         |  ${Derive.lonSql("c_custkey")} + (c_custkey * 6101) % 1500001 AS fhi,
         |  ${Derive.latSql("c_custkey")} + (c_custkey * 9203) % 1500001 AS fha
         |  FROM customer),
         |o AS (SELECT r.poly_id,
         |    LEAST(f.fhi, r.lon_max) - GREATEST(f.flo, r.lon_min) AS w,
         |    LEAST(f.fha, r.lat_max) - GREATEST(f.fla, r.lat_min) AS h
         |  FROM f CROSS JOIN ${Derive.rectsSqlValues})
         |SELECT poly_id, count(*) AS n_features,
         |  CAST(CAST(sum(w * h) AS DECIMAL(38,0)) AS VARCHAR) AS clipped_area
         |FROM o WHERE w > 0 AND h > 0 GROUP BY poly_id ORDER BY poly_id""".stripMargin,
    "q74_clip_length" ->
      s"""WITH segs AS (SELECT o_orderkey,
         |  ${Derive.lonSql("o_orderkey")} AS x1, ${Derive.latSql("o_orderkey")} AS y1,
         |  ${Derive.lonSql("o_orderkey")} + (o_orderkey * 7919) % 2000001 - 1000000 AS x2,
         |  ${Derive.latSql("o_orderkey")} + (o_orderkey * 104729) % 2000001 - 1000000 AS y2
         |  FROM orders),
         |d AS (SELECT s.o_orderkey, r.poly_id,
         |    CAST(s.x1 AS DOUBLE) AS x1d, CAST(s.y1 AS DOUBLE) AS y1d,
         |    CAST(s.x2 - s.x1 AS DOUBLE) AS dx, CAST(s.y2 - s.y1 AS DOUBLE) AS dy,
         |    CAST(r.lon_min AS DOUBLE) AS lo, CAST(r.lat_min AS DOUBLE) AS la,
         |    CAST(r.lon_max AS DOUBLE) AS hi, CAST(r.lat_max AS DOUBLE) AS ha
         |  FROM segs s CROSS JOIN ${Derive.rectsSqlValues}),
         |t AS (SELECT o_orderkey, poly_id, dx, dy,
         |    CASE WHEN dx > 0 THEN (lo - x1d) / dx WHEN dx < 0 THEN (hi - x1d) / dx
         |         WHEN x1d >= lo AND x1d <= hi THEN -1e308 ELSE 1e308 END AS txe,
         |    CASE WHEN dx > 0 THEN (hi - x1d) / dx WHEN dx < 0 THEN (lo - x1d) / dx
         |         WHEN x1d >= lo AND x1d <= hi THEN 1e308 ELSE -1e308 END AS txx,
         |    CASE WHEN dy > 0 THEN (la - y1d) / dy WHEN dy < 0 THEN (ha - y1d) / dy
         |         WHEN y1d >= la AND y1d <= ha THEN -1e308 ELSE 1e308 END AS tye,
         |    CASE WHEN dy > 0 THEN (ha - y1d) / dy WHEN dy < 0 THEN (la - y1d) / dy
         |         WHEN y1d >= la AND y1d <= ha THEN 1e308 ELSE -1e308 END AS tyx
         |  FROM d),
         |ln AS (SELECT poly_id,
         |    CASE WHEN LEAST(1.0, LEAST(txx, tyx)) > GREATEST(0.0, GREATEST(txe, tye))
         |         THEN sqrt(dx * dx + dy * dy) *
         |              (LEAST(1.0, LEAST(txx, tyx)) - GREATEST(0.0, GREATEST(txe, tye)))
         |         ELSE 0.0 END AS len
         |  FROM t)
         |SELECT poly_id, count(*) AS n_segments,
         |  CAST(sum(CAST(floor(len * 1000.0) AS BIGINT)) AS BIGINT) AS clipped_len
         |FROM ln WHERE len > 0 GROUP BY poly_id ORDER BY poly_id""".stripMargin,
    // meters twins: identical slab clip, then the equirect meters chain with
    // cos as the SAME fixed Horner polynomial the Scala kernel evaluates —
    // only correctly-rounded IEEE ops, so doubles match bit-for-bit
    "q78_clip_length_m" ->
      s"""WITH segs AS (SELECT o_orderkey,
         |  ${Derive.lonSql("o_orderkey")} AS x1, ${Derive.latSql("o_orderkey")} AS y1,
         |  ${Derive.lonSql("o_orderkey")} + (o_orderkey * 7919) % 2000001 - 1000000 AS x2,
         |  ${Derive.latSql("o_orderkey")} + (o_orderkey * 104729) % 2000001 - 1000000 AS y2
         |  FROM orders),
         |d AS (SELECT s.o_orderkey, r.poly_id,
         |    CAST(s.x1 AS DOUBLE) AS x1d, CAST(s.y1 AS DOUBLE) AS y1d,
         |    CAST(s.x2 - s.x1 AS DOUBLE) AS dx, CAST(s.y2 - s.y1 AS DOUBLE) AS dy,
         |    CAST(r.lon_min AS DOUBLE) AS lo, CAST(r.lat_min AS DOUBLE) AS la,
         |    CAST(r.lon_max AS DOUBLE) AS hi, CAST(r.lat_max AS DOUBLE) AS ha
         |  FROM segs s CROSS JOIN ${Derive.rectsSqlValues}),
         |t AS (SELECT o_orderkey, poly_id, y1d, dx, dy,
         |    CASE WHEN dx > 0 THEN (lo - x1d) / dx WHEN dx < 0 THEN (hi - x1d) / dx
         |         WHEN x1d >= lo AND x1d <= hi THEN -1e308 ELSE 1e308 END AS txe,
         |    CASE WHEN dx > 0 THEN (hi - x1d) / dx WHEN dx < 0 THEN (lo - x1d) / dx
         |         WHEN x1d >= lo AND x1d <= hi THEN 1e308 ELSE -1e308 END AS txx,
         |    CASE WHEN dy > 0 THEN (la - y1d) / dy WHEN dy < 0 THEN (ha - y1d) / dy
         |         WHEN y1d >= la AND y1d <= ha THEN -1e308 ELSE 1e308 END AS tye,
         |    CASE WHEN dy > 0 THEN (ha - y1d) / dy WHEN dy < 0 THEN (la - y1d) / dy
         |         WHEN y1d >= la AND y1d <= ha THEN 1e308 ELSE -1e308 END AS tyx
         |  FROM d),
         |tt AS (SELECT poly_id, y1d, dx, dy,
         |    GREATEST(0.0, GREATEST(txe, tye)) AS t0,
         |    LEAST(1.0, LEAST(txx, tyx)) AS t1 FROM t),
         |ph AS (SELECT poly_id, dx, dy, t0, t1,
         |    ((y1d + dy * ((t0 + t1) * 0.5)) * 1.7453292519943295e-08)
         |    * ((y1d + dy * ((t0 + t1) * 0.5)) * 1.7453292519943295e-08) AS z
         |  FROM tt),
         |cp AS (SELECT poly_id, dx, dy, t0, t1, ${cosPolySql("z")} AS c FROM ph),
         |ln AS (SELECT poly_id,
         |    CASE WHEN t1 > t0
         |         THEN sqrt(dx * c * (dx * c) + dy * dy) * (t1 - t0) * 0.1111950802335329
         |         ELSE 0.0 END AS len
         |  FROM cp)
         |SELECT poly_id, count(*) AS n_segments,
         |  CAST(sum(CAST(floor(len * 1000.0) AS BIGINT)) AS BIGINT) AS clipped_len_mm
         |FROM ln WHERE len > 0 GROUP BY poly_id ORDER BY poly_id""".stripMargin,
    "q79_clip_area_m2" ->
      s"""WITH f AS (SELECT c_custkey,
         |  ${Derive.lonSql("c_custkey")} - (c_custkey * 6101) % 1500001 AS flo,
         |  ${Derive.latSql("c_custkey")} - (c_custkey * 9203) % 1500001 AS fla,
         |  ${Derive.lonSql("c_custkey")} + (c_custkey * 6101) % 1500001 AS fhi,
         |  ${Derive.latSql("c_custkey")} + (c_custkey * 9203) % 1500001 AS fha
         |  FROM customer),
         |o AS (SELECT r.poly_id,
         |    LEAST(f.fhi, r.lon_max) - GREATEST(f.flo, r.lon_min) AS w,
         |    LEAST(f.fha, r.lat_max) - GREATEST(f.fla, r.lat_min) AS h,
         |    GREATEST(f.fla, r.lat_min) AS lac, LEAST(f.fha, r.lat_max) AS hac
         |  FROM f CROSS JOIN ${Derive.rectsSqlValues}),
         |ph AS (SELECT poly_id, w, h,
         |    ((CAST(lac + hac AS DOUBLE) * 0.5) * 1.7453292519943295e-08)
         |    * ((CAST(lac + hac AS DOUBLE) * 0.5) * 1.7453292519943295e-08) AS z
         |  FROM o WHERE w > 0 AND h > 0),
         |cp AS (SELECT poly_id, w, h, ${cosPolySql("z")} AS c FROM ph),
         |aa AS (SELECT poly_id, CAST(floor(
         |    CAST(w AS DOUBLE) * c * 0.1111950802335329
         |    * (CAST(h AS DOUBLE) * 0.1111950802335329)) AS BIGINT) AS m2 FROM cp)
         |SELECT poly_id, count(*) AS n_features,
         |  CAST(CAST(sum(m2) AS DECIMAL(38,0)) AS VARCHAR) AS clipped_m2
         |FROM aa GROUP BY poly_id ORDER BY poly_id""".stripMargin,
    "q70_stream_tiles" ->
      s"""WITH pts AS (SELECT o_orderkey, ${Derive.lonSql("o_orderkey")} AS lonm,
         |  ${Derive.latSql("o_orderkey")} AS latm FROM orders)
         |SELECT 8 AS tile_z,
         |  ((lonm + 180000000) * 256) // 360000000 AS tile_x,
         |  ((90000000 - latm) * 256) // 180000000 AS tile_y,
         |  count(*) AS n_points
         |FROM pts GROUP BY 1, 2, 3 ORDER BY tile_x, tile_y""".stripMargin,
    "q03_zcell_count" ->
      s"""WITH pts AS (SELECT ${Derive.lonSql("c_custkey")} AS lonm,
         |  ${Derive.latSql("c_custkey")} AS latm FROM customer),
         |${Derive.zcellSqlCte(12)}
         |SELECT cell, count(*) AS n_points FROM zc GROUP BY cell ORDER BY cell""".stripMargin,
    "q04_agg_by_geometry" ->
      s"""SELECT r.poly_id AS poly_id, count(*) AS n_points
         |FROM customer c JOIN ${Derive.rectsSqlValues}
         |ON ${Derive.lonSql("c.c_custkey")} BETWEEN r.lon_min AND r.lon_max
         |AND ${Derive.latSql("c.c_custkey")} BETWEEN r.lat_min AND r.lat_max
         |GROUP BY r.poly_id ORDER BY poly_id""".stripMargin,
    "q08_agg_geometry_zerofill" ->
      s"""WITH counted AS (SELECT r.poly_id AS poly_id, count(*) AS n_points
         |  FROM customer c JOIN ${Derive.rectsSqlValues}
         |  ON ${Derive.lonSql("c.c_custkey")} BETWEEN r.lon_min AND r.lon_max
         |  AND ${Derive.latSql("c.c_custkey")} BETWEEN r.lat_min AND r.lat_max
         |  GROUP BY r.poly_id),
         |dom AS (SELECT poly_id FROM ${Derive.rectsSqlValues.replace("AS r(", "AS d(")})
         |SELECT d.poly_id AS poly_id, coalesce(c.n_points, 0) AS n_points
         |FROM dom d LEFT JOIN counted c ON d.poly_id = c.poly_id
         |ORDER BY poly_id""".stripMargin,
    "q09_spatial_join_salted" ->
      s"""SELECT c.c_custkey AS c_custkey, r.poly_id AS poly_id
         |FROM customer c JOIN ${Derive.rectsSqlValues}
         |ON ${Derive.lonSql("c.c_custkey")} BETWEEN r.lon_min AND r.lon_max
         |AND ${Derive.latSql("c.c_custkey")} BETWEEN r.lat_min AND r.lat_max
         |ORDER BY c_custkey, poly_id""".stripMargin,
    "q0l_spatial_join_df" ->
      s"""SELECT c.c_custkey AS c_custkey, r.poly_id AS poly_id
         |FROM customer c JOIN ${Derive.rectsSqlValues}
         |ON ${Derive.lonSql("c.c_custkey")} BETWEEN r.lon_min AND r.lon_max
         |AND ${Derive.latSql("c.c_custkey")} BETWEEN r.lat_min AND r.lat_max
         |ORDER BY c_custkey, poly_id""".stripMargin,
    "q0c_tile_pyramid" ->
      s"""WITH pts AS (SELECT ${Derive.lonSql("c_custkey")} AS lonm,
         |  ${Derive.latSql("c_custkey")} AS latm FROM customer),
         |${Derive.zcellSqlCte(12)},
         |p AS (SELECT 12 AS z, cell, count(*) AS n FROM zc GROUP BY 2
         |  UNION ALL SELECT 10, cell // 16, count(*) FROM zc GROUP BY 2
         |  UNION ALL SELECT 8, cell // 256, count(*) FROM zc GROUP BY 2)
         |SELECT z, cell, n FROM p ORDER BY z, cell""".stripMargin,
    "q0b_iceberg_scan" ->
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |${Derive.latSql("c_custkey")} AS latm
         |FROM customer ORDER BY c_custkey""".stripMargin,
    "q0h_iceberg_delete" ->
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |${Derive.latSql("c_custkey")} AS latm
         |FROM customer WHERE NOT c_custkey % 10 = 3 ORDER BY c_custkey""".stripMargin,
    "q0m_iceberg_compact" ->
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |${Derive.latSql("c_custkey")} AS latm
         |FROM customer ORDER BY c_custkey""".stripMargin,
    "q72_iceberg_changes" ->
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |${Derive.latSql("c_custkey")} AS latm
         |FROM customer WHERE c_custkey % 3 IN (1, 2) ORDER BY c_custkey""".stripMargin,
    "q73_iceberg_expire" ->
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |${Derive.latSql("c_custkey")} AS latm
         |FROM customer ORDER BY c_custkey""".stripMargin,
    "q76_iceberg_mor_delete" ->
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |${Derive.latSql("c_custkey")} AS latm
         |FROM customer WHERE NOT c_custkey % 10 = 3 ORDER BY c_custkey""".stripMargin,
    "q77_iceberg_evolve" ->
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |CASE WHEN c_custkey % 2 = 1 THEN c_custkey % 5 ELSE NULL END AS flag
         |FROM customer ORDER BY c_custkey""".stripMargin,
    "q7e_iceberg_rollback" ->
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm
         |FROM customer WHERE c_custkey % 10 <> 7 ORDER BY c_custkey""".stripMargin,
    "q7f_iceberg_wap" ->
      s"""WITH merged AS (
         |  SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm
         |  FROM customer WHERE c_custkey % 10 <> 3
         |  UNION ALL
         |  SELECT c_custkey + 1000000, ${Derive.lonSql("c_custkey")} AS lonm
         |  FROM customer WHERE c_custkey % 11 = 0)
         |SELECT c_custkey, lonm FROM merged ORDER BY c_custkey""".stripMargin,
    "q7g_iceberg_tag" ->
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm
         |FROM customer WHERE c_custkey % 2 = 0 ORDER BY c_custkey""".stripMargin,
    "q7k_stream_wap" ->
      s"""SELECT o_orderkey, ${Derive.lonSql("o_orderkey")} AS lonm
         |FROM orders WHERE o_orderkey % 10 <> 1 ORDER BY o_orderkey""".stripMargin,
    "q7l_zorder_prune" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_pts,
         |  CAST(sum(c_custkey) AS BIGINT) AS sum_key
         |FROM customer
         |WHERE ${Derive.lonSql("c_custkey")} BETWEEN 10000000 AND 80000000
         |  AND ${Derive.latSql("c_custkey")} BETWEEN 5000000 AND 60000000""".stripMargin,
    "q7q_ivf_filtered" ->
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin,
    "q81_stream_dedup" ->
      """SELECT DISTINCT c_custkey % 500 AS k,
        |  (c_custkey % 500) * 2654435761 % 1000000 AS payload
        |FROM customer ORDER BY k""".stripMargin,
    "q86_pagerank" -> {
      // 6 chained CTEs replay the integer power-iteration rule exactly:
      // r_k(v) = BASE + (85 * Σ (r_{k-1}(u) // out(u))) // 100
      val rounds = (1 to 6).map { k =>
        s"""r$k AS (SELECT n.node,
           |  ${15L * 10000000000L} + (85 * coalesce(s.s, 0)) // 100 AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node, sum(r${k - 1}.r // e.out) AS s
           |    FROM r${k - 1} JOIN e ON r${k - 1}.node = e.src
           |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH raw AS (SELECT DISTINCT o_orderkey % 400 AS src,
         |  (o_orderkey // 400 + o_orderkey * 7919 + 31) % 400 AS dst
         |  FROM orders),
         |od AS (SELECT src, count(*) AS out FROM raw GROUP BY src),
         |e AS (SELECT raw.src, raw.dst, od.out FROM raw JOIN od USING (src)),
         |nodes AS (SELECT src AS node FROM raw UNION
         |          SELECT dst AS node FROM raw),
         |r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM nodes),
         |$rounds
         |SELECT node, CAST(r AS BIGINT) AS r FROM r6 ORDER BY node""".stripMargin
    },
    "q87_centroid" ->
      s"""WITH v AS (SELECT (c_custkey - 1) // 8 AS pid,
         |  (c_custkey - 1) % 8 AS idx,
         |  ${Derive.lonSql("((c_custkey - 1) // 8)")}
         |    + (c_custkey * c_custkey * 48271) % 600001 - 300000 AS x,
         |  ${Derive.latSql("((c_custkey - 1) // 8)")}
         |    + ((c_custkey + 7) * (c_custkey + 13) * 16807) % 600001 - 300000
         |    AS y FROM customer),
         |w AS (SELECT *, first_value(x) OVER wo AS x0,
         |  first_value(y) OVER wo AS y0,
         |  coalesce(lead(x) OVER wo, first_value(x) OVER wo) AS xn,
         |  coalesce(lead(y) OVER wo, first_value(y) OVER wo) AS yn
         |  FROM v WINDOW wo AS (PARTITION BY pid ORDER BY idx)),
         |c AS (SELECT pid, x0, y0, x - x0 AS dx, y - y0 AS dy,
         |  xn - x0 AS dxn, yn - y0 AS dyn FROM w),
         |s AS (SELECT pid AS poly_id,
         |  CAST(sum(dx*dyn - dxn*dy) AS BIGINT) AS a2,
         |  CAST(sum((dx + dxn) * (dx*dyn - dxn*dy)) AS BIGINT) AS cx6a,
         |  CAST(sum((dy + dyn) * (dx*dyn - dxn*dy)) AS BIGINT) AS cy6a,
         |  min(x0) AS x0, min(y0) AS y0 FROM c GROUP BY 1)
         |SELECT poly_id, a2,
         |  CAST(floor(CAST(x0 AS DOUBLE)
         |    + CAST(cx6a AS DOUBLE) / CAST(3*a2 AS DOUBLE)) AS BIGINT) AS cx_q,
         |  CAST(floor(CAST(y0 AS DOUBLE)
         |    + CAST(cy6a AS DOUBLE) / CAST(3*a2 AS DOUBLE)) AS BIGINT) AS cy_q
         |FROM s WHERE a2 <> 0 ORDER BY poly_id""".stripMargin,
    "q88_diameter" ->
      // brute max over ALL vertex pairs (self-pairs give the single-vertex
      // d2 = 0 for free) — the engine's hull is acceleration, not semantics
      s"""WITH v AS (SELECT (o_orderkey - 1) // 30 AS pid,
         |  ${Derive.lonSql("((o_orderkey - 1) // 30)")}
         |    + (o_orderkey * o_orderkey * 48271) % 600001 - 300000 AS x,
         |  ${Derive.latSql("((o_orderkey - 1) // 30)")}
         |    + ((o_orderkey + 7) * (o_orderkey + 13) * 16807) % 600001
         |    - 300000 AS y FROM orders),
         |n AS (SELECT pid, count(*) AS n_pts FROM v GROUP BY 1),
         |d AS (SELECT a.pid,
         |  CAST(max((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))
         |    AS BIGINT) AS d2
         |  FROM v a JOIN v b ON a.pid = b.pid GROUP BY 1)
         |SELECT n.pid AS poly_id, n.n_pts, d.d2
         |FROM n JOIN d ON n.pid = d.pid ORDER BY poly_id""".stripMargin,
    "q89_od_matrix" ->
      s"""WITH $tripsCtes,
         |o AS (SELECT user_id, trip_no,
         |  first_value(lonm) OVER wt AS o_lon, first_value(latm) OVER wt AS o_lat,
         |  last_value(lonm) OVER wt AS d_lon, last_value(latm) OVER wt AS d_lat
         |  FROM t WINDOW wt AS (PARTITION BY user_id, trip_no
         |    ORDER BY tus, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
         |od AS (SELECT DISTINCT user_id, trip_no, o_lon, o_lat, d_lon, d_lat
         |  FROM o)
         |SELECT (o_lon + 180000000) // 8000000 AS o_cx,
         |  (o_lat + 90000000) // 8000000 AS o_cy,
         |  (d_lon + 180000000) // 8000000 AS d_cx,
         |  (d_lat + 90000000) // 8000000 AS d_cy,
         |  count(*) AS flows
         |FROM od GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin,
    "q90_colocation" ->
      // brute-force twin: the blocking grid is plan-side only — the
      // counted set is decided by the same exact int64 d² / |Δt| tests
      s"""WITH f AS (SELECT user_id AS ent, epoch_us(ts) AS tus,
         |  ${Derive.lonSql("(user_id % 13)")}
         |    + (event_id * 48271) % 600001 - 300000 AS lon,
         |  ${Derive.latSql("(user_id % 13)")}
         |    + ((event_id + 7) * 16807) % 600001 - 300000 AS lat
         |  FROM events)
         |SELECT a.ent AS ent_a, b.ent AS ent_b, count(*) AS contacts
         |FROM f a JOIN f b ON a.ent < b.ent
         |  AND abs(a.tus - b.tus) <= 21600000000
         |  AND (b.lon - a.lon) * (b.lon - a.lon)
         |    + (b.lat - a.lat) * (b.lat - a.lat) <= 40000000000
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q91_kcore" -> {
      // 12 synchronous peel rounds: d_i = degrees over e_{i-1}, e_i keeps
      // edges whose BOTH endpoints have d_i ≥ 2. Fixpoint lands by round 8
      // on every SF; rounds past it are idempotent, so e12 IS the 2-core.
      // MATERIALIZED is load-bearing: each round references its predecessor
      // 5× (d_i twice, e_i three ways) — inlined, the expansion is 5^12
      // copies of the base scan; materialized, it is 12 linear passes.
      val rounds = (1 to 12).map { i =>
        s"""d$i AS MATERIALIZED (SELECT n, count(*) AS d FROM (
           |  SELECT a AS n FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
           |  GROUP BY n),
           |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
           |  JOIN d$i da ON e.a = da.n JOIN d$i db ON e.b = db.n
           |  WHERE da.d >= 2 AND db.d >= 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
         |  FROM (SELECT (o_orderkey * o_orderkey) % 2311 AS x,
         |      (o_orderkey * 7919 + 13) % ((o_orderkey % 389) + 7) AS y
         |    FROM orders
         |    UNION ALL
         |    SELECT o_orderkey % 14 + 10000, o_orderkey % 14 + 10001
         |    FROM orders) t WHERE x <> y),
         |$rounds
         |SELECT n, count(*) AS core_deg FROM (
         |  SELECT a AS n FROM e12 UNION ALL SELECT b FROM e12)
         |GROUP BY n ORDER BY n""".stripMargin
    },
    "q92_traj_hausdorff" ->
      // the twin is the definition itself: distinct visited cells, shared-
      // cell pairs, per-direction max-min over the pair cross product.
      // MATERIALIZED: c feeds three scans, x feeds both directions.
      s"""WITH f AS (SELECT user_id AS ent,
         |  ${Derive.lonSql("(user_id % 61)")}
         |    + (event_id * 48271) % 600001 - 300000 AS lon,
         |  ${Derive.latSql("(user_id % 61)")}
         |    + ((event_id + 7) * 16807) % 600001 - 300000 AS lat
         |  FROM events),
         |c AS MATERIALIZED (SELECT DISTINCT ent,
         |  ((lon + 180000000) * 4096) // 360000000 AS cx,
         |  ((lat + 90000000) * 4096) // 180000000 AS cy FROM f),
         |p AS MATERIALIZED (SELECT DISTINCT a.ent AS ea, b.ent AS eb
         |  FROM c a JOIN c b
         |  ON a.cx = b.cx AND a.cy = b.cy AND a.ent < b.ent),
         |x AS MATERIALIZED (SELECT p.ea, p.eb, a.cx AS ax, a.cy AS ay,
         |  b.cx AS bx, b.cy AS byy,
         |  (a.cx - b.cx) * (a.cx - b.cx)
         |    + (a.cy - b.cy) * (a.cy - b.cy) AS d2
         |  FROM p JOIN c a ON a.ent = p.ea JOIN c b ON b.ent = p.eb),
         |hab AS (SELECT ea, eb, max(m) AS h FROM (
         |  SELECT ea, eb, ax, ay, min(d2) AS m FROM x GROUP BY 1, 2, 3, 4)
         |  GROUP BY 1, 2),
         |hba AS (SELECT ea, eb, max(m) AS h FROM (
         |  SELECT ea, eb, bx, byy, min(d2) AS m FROM x GROUP BY 1, 2, 3, 4)
         |  GROUP BY 1, 2)
         |SELECT hab.ea AS ent_a, hab.eb AS ent_b,
         |  greatest(hab.h, hba.h) AS haus_d2
         |FROM hab JOIN hba ON hab.ea = hba.ea AND hab.eb = hba.eb
         |ORDER BY 1, 2""".stripMargin,
    "q93_morans_i" ->
      // definition replay: occupied cells → N-scaled deviations u = N·x − S
      // → rook-adjacency products; all-int64 so the one row hashes exactly
      s"""WITH pts AS (SELECT
         |  ${Derive.lonSql("(o_orderkey % 37)")}
         |    + (o_orderkey * 48271) % 9000001 - 4500000 + 180000000 AS wx,
         |  ${Derive.latSql("(o_orderkey % 37)")}
         |    + ((o_orderkey + 7) * 16807) % 9000001 - 4500000 + 90000000 AS wy
         |  FROM orders),
         |c AS (SELECT wx // 2000000 AS px, wy // 2000000 AS py,
         |  count(*) AS n FROM pts GROUP BY 1, 2),
         |st AS (SELECT count(*) AS nc, CAST(sum(n) AS BIGINT) AS s FROM c),
         |u AS MATERIALIZED (SELECT px, py, nc * n - s AS u
         |  FROM c CROSS JOIN st),
         |adj AS (SELECT a.u * b.u AS p FROM u a JOIN u b
         |  ON (b.px = a.px + 1 AND b.py = a.py)
         |    OR (b.px = a.px AND b.py = a.py + 1))
         |SELECT (SELECT nc FROM st) AS n_cells,
         |  (SELECT count(*) * 2 FROM adj) AS w_ordered,
         |  (SELECT COALESCE(CAST(sum(p) AS BIGINT), 0) * 2 FROM adj)
         |    AS num_scaled,
         |  (SELECT CAST(sum(u * u) AS BIGINT) FROM u) AS den_scaled""".stripMargin,
    "q94_local_morans" ->
      // per-cell replay: 4-way neighbor lookup against the same u surface
      s"""WITH pts AS (SELECT
         |  ${Derive.lonSql("(o_orderkey % 37)")}
         |    + (o_orderkey * 48271) % 9000001 - 4500000 + 180000000 AS wx,
         |  ${Derive.latSql("(o_orderkey % 37)")}
         |    + ((o_orderkey + 7) * 16807) % 9000001 - 4500000 + 90000000 AS wy
         |  FROM orders),
         |c AS (SELECT wx // 2000000 AS px, wy // 2000000 AS py,
         |  count(*) AS n FROM pts GROUP BY 1, 2),
         |st AS (SELECT count(*) AS nc, CAST(sum(n) AS BIGINT) AS s FROM c),
         |u AS MATERIALIZED (SELECT px, py, n, nc * n - s AS u
         |  FROM c CROSS JOIN st)
         |SELECT a.px AS cx, a.py AS cy, a.n, a.u AS u_scaled,
         |  COALESCE(CAST(sum(b.u) AS BIGINT), 0) AS nbr_u_sum,
         |  count(b.u) AS nbr_cnt
         |FROM u a LEFT JOIN u b
         |  ON abs(a.px - b.px) + abs(a.py - b.py) = 1
         |GROUP BY 1, 2, 3, 4 ORDER BY cx, cy""".stripMargin,
    "q95_ripley_k" ->
      // brute time-free twin: all id-ordered pairs within rmax, then the
      // cumulative per-radius count via a theta left join
      s"""WITH p AS MATERIALIZED (SELECT c_custkey AS id,
         |  ${Derive.lonSql("(c_custkey % 23)")}
         |    + (c_custkey * 48271) % 7000001 - 3500000 AS x,
         |  ${Derive.latSql("(c_custkey % 23)")}
         |    + ((c_custkey + 7) * 16807) % 7000001 - 3500000 AS y
         |  FROM customer),
         |d AS MATERIALIZED (SELECT
         |    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
         |  FROM p a JOIN p b ON a.id < b.id
         |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         |    <= ${4000000L * 4000000L}),
         |r AS (SELECT CAST(unnest([500000, 1000000, 2000000, 4000000])
         |  AS BIGINT) AS r_micro)
         |SELECT r.r_micro, CAST(2 * count(d.d2) AS BIGINT) AS pairs_ordered,
         |  (SELECT count(*) FROM p) AS n_points
         |FROM r LEFT JOIN d ON d.d2 <= r.r_micro * r.r_micro
         |GROUP BY r.r_micro ORDER BY r_micro""".stripMargin,
    "q96_emerging_hotspots" ->
      // definition replay: (cell, bin) counts → densified series via a
      // bin-ladder cross join (empty bins are REAL zeros) → pairwise sgn sum
      s"""WITH f AS (SELECT
         |  ${Derive.lonSql("(user_id % 13)")}
         |    + (event_id * 48271) % 600001 - 300000 + 180000000 AS wx,
         |  ${Derive.latSql("(user_id % 13)")}
         |    + ((event_id + 7) * 16807) % 600001 - 300000 + 90000000 AS wy,
         |  epoch_us(ts) - 1704067200000000 AS dt FROM events),
         |e AS (SELECT wx // 200000 AS cx, wy // 200000 AS cy,
         |  dt // 259200000000 AS b FROM f
         |  WHERE dt >= 0 AND dt < ${259200000000L * 10L}),
         |c AS MATERIALIZED (SELECT cx, cy, b, count(*) AS n
         |  FROM e GROUP BY 1, 2, 3),
         |cells AS MATERIALIZED (SELECT cx, cy, CAST(sum(n) AS BIGINT)
         |  AS total FROM c GROUP BY 1, 2),
         |dense AS MATERIALIZED (SELECT cells.cx, cells.cy, bins.b,
         |  COALESCE(c.n, 0) AS x
         |  FROM cells CROSS JOIN
         |    (SELECT unnest(generate_series(0, 9)) AS b) bins
         |  LEFT JOIN c ON c.cx = cells.cx AND c.cy = cells.cy AND c.b = bins.b),
         |s AS (SELECT a.cx, a.cy, CAST(sum(CASE WHEN d.x > a.x THEN 1
         |    WHEN d.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
         |  FROM dense a JOIN dense d
         |    ON d.cx = a.cx AND d.cy = a.cy AND d.b > a.b
         |  GROUP BY 1, 2)
         |SELECT cells.cx, cells.cy, total, s_stat
         |FROM cells JOIN s USING (cx, cy) ORDER BY cx, cy""".stripMargin,
    "q97_object_count" -> {
      // generator-rule replay: block value 200 ≥ 128 > 50 ⇒ the pooled mask
      // IS the phash bit grid; components via an independent BFS flood fill
      import graft.fixtures.Fixtures
      val hist = scala.collection.mutable.Map[Int, Long]()
      (0L until 5000L).foreach { i =>
        val (lon, lat) = Fixtures.locOf(i)
        val bits = graft.core.PhashLoc.encode(lon, lat)
        def set(c: Int): Boolean = ((bits >>> c) & 1L) == 1L
        var seen = Set.empty[Int]; var cnt = 0
        (0 until 64).foreach { s0 =>
          if (set(s0) && !seen(s0)) {
            cnt += 1
            var frontier = List(s0)
            while (frontier.nonEmpty) {
              val c = frontier.head; frontier = frontier.tail
              if (!seen(c)) {
                seen += c
                val cx = c % 8; val cy = c / 8
                frontier = List((cx + 1, cy), (cx - 1, cy), (cx, cy + 1), (cx, cy - 1))
                  .collect { case (x, y)
                    if x >= 0 && x < 8 && y >= 0 && y < 8 && set(y * 8 + x) =>
                      y * 8 + x } ::: frontier
              }
            }
          }
        }
        hist(cnt) = hist.getOrElse(cnt, 0L) + 1L
      }
      val vals = hist.toSeq.sorted
        .map { case (k, n) => s"($k, CAST($n AS BIGINT))" }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(n_objects, n_images) ORDER BY n_objects"
    },
    "q98_getis_ord" ->
      // queen-contiguity theta join includes self (|0| ≤ 1), matching Gi*
      s"""WITH pts AS (SELECT
         |  ${Derive.lonSql("(o_orderkey % 37)")}
         |    + (o_orderkey * 48271) % 9000001 - 4500000 + 180000000 AS wx,
         |  ${Derive.latSql("(o_orderkey % 37)")}
         |    + ((o_orderkey + 7) * 16807) % 9000001 - 4500000 + 90000000 AS wy
         |  FROM orders),
         |c AS MATERIALIZED (SELECT wx // 2000000 AS px, wy // 2000000 AS py,
         |  count(*) AS n FROM pts GROUP BY 1, 2)
         |SELECT a.px AS cx, a.py AS cy, a.n,
         |  CAST(sum(b.n) AS BIGINT) AS hood_sum, count(*) AS hood_cnt,
         |  (SELECT count(*) FROM c) AS n_cells,
         |  (SELECT CAST(sum(n) AS BIGINT) FROM c) AS s_total,
         |  (SELECT CAST(sum(n * n) AS BIGINT) FROM c) AS sq_total
         |FROM c a JOIN c b
         |  ON abs(a.px - b.px) <= 1 AND abs(a.py - b.py) <= 1
         |GROUP BY 1, 2, 3 ORDER BY cx, cy""".stripMargin,
    "q99_stay_points" -> stayPointsOracleSql,
    // the STREAMING stay detector must equal the batch operator over the
    // real fixes — same twin, by construction
    "q9c_stream_stays" -> stayPointsOracleSql,
    "q9d_geofence" -> geofenceOracleSql,
    // the STREAMING geofence must equal the batch operator — same twin
    "q9e_stream_geofence" -> geofenceOracleSql,
    "q9f_transitions" ->
      // stay-chain replay without gates → per-run representative → run lag
      s"""WITH f AS (SELECT user_id AS ent, epoch_us(ts) AS tus,
         |  event_id AS oid,
         |  ${Derive.lonSql("(user_id % 13)")}
         |    + ((user_id * 31 + ((epoch_us(ts) - 1704067200000000)
         |        // 259200000000) * 7) * 48271) % 600001 - 300000
         |    + (event_id * 7919) % 200001 - 100000 AS lon,
         |  ${Derive.latSql("(user_id % 13)")}
         |    + ((user_id * 17 + ((epoch_us(ts) - 1704067200000000)
         |        // 259200000000) * 11) * 16807) % 600001 - 300000
         |    + ((event_id + 3) * 104729) % 200001 - 100000 AS lat
         |  FROM events),
         |c AS (SELECT ent, tus, oid, (lon + 180000000) // 400000 AS cx,
         |  (lat + 90000000) // 400000 AS cy FROM f),
         |l AS (SELECT *, CASE WHEN lag(cx) OVER w IS NULL
         |    OR lag(cx) OVER w <> cx OR lag(cy) OVER w <> cy
         |  THEN 1 ELSE 0 END AS nw FROM c
         |  WINDOW w AS (PARTITION BY ent ORDER BY tus, oid)),
         |r AS (SELECT *, sum(nw) OVER (PARTITION BY ent ORDER BY tus, oid
         |  ROWS UNBOUNDED PRECEDING) AS run FROM l),
         |v AS (SELECT ent, run, min(cx) AS cx, min(cy) AS cy
         |  FROM r GROUP BY 1, 2),
         |e AS (SELECT ent, cx, cy,
         |  lag(cx) OVER w2 AS pcx, lag(cy) OVER w2 AS pcy FROM v
         |  WINDOW w2 AS (PARTITION BY ent ORDER BY run))
         |SELECT pcx AS f_cx, pcy AS f_cy, cx AS t_cx, cy AS t_cy,
         |  count(*) AS n_transitions
         |FROM e WHERE pcx IS NOT NULL
         |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin,
    "q9g_teleports" ->
      // lag replay with the SAME fixed IEEE hop chain and strict > predicate
      s"""WITH f AS (SELECT user_id AS ent, epoch_us(ts) AS tus,
         |  event_id AS oid,
         |  ${Derive.lonSql("(user_id % 13)")}
         |    + ((user_id * 31 + ((epoch_us(ts) - 1704067200000000)
         |        // 259200000000) * 7) * 48271) % 600001 - 300000
         |    + (event_id * 7919) % 200001 - 100000 AS lon,
         |  ${Derive.latSql("(user_id % 13)")}
         |    + ((user_id * 17 + ((epoch_us(ts) - 1704067200000000)
         |        // 259200000000) * 11) * 16807) % 600001 - 300000
         |    + ((event_id + 3) * 104729) % 200001 - 100000 AS lat
         |  FROM events),
         |l AS (SELECT *, lag(tus) OVER w AS ptus, lag(lon) OVER w AS plon,
         |  lag(lat) OVER w AS plat FROM f
         |  WINDOW w AS (PARTITION BY ent ORDER BY tus, oid)),
         |h AS (SELECT ent, tus, oid, CAST(floor(sqrt(
         |    CAST(lon - plon AS DOUBLE) * CAST(lon - plon AS DOUBLE) +
         |    CAST(lat - plat AS DOUBLE) * CAST(lat - plat AS DOUBLE)))
         |    AS BIGINT) AS hop_q,
         |  tus - ptus AS dt_us FROM l WHERE ptus IS NOT NULL)
         |SELECT ent AS entity, tus, oid, hop_q, dt_us FROM h
         |WHERE hop_q * 1000000 > 50 * dt_us
         |ORDER BY entity, tus, oid""".stripMargin,
    "q9h_cross_k" ->
      // brute cross join + cumulative theta left join, as in q95
      s"""WITH a AS (SELECT
         |  ${Derive.lonSql("(user_id % 13)")}
         |    + (event_id * 48271) % 600001 - 300000 AS lon,
         |  ${Derive.latSql("(user_id % 13)")}
         |    + ((event_id + 7) * 16807) % 600001 - 300000 AS lat
         |  FROM events),
         |b AS (SELECT ${Derive.lonSql("j")} AS lon, ${Derive.latSql("j")} AS lat
         |  FROM (SELECT unnest(generate_series(0, 12)) AS j)),
         |d AS MATERIALIZED (SELECT
         |    (a.lon - b.lon) * (a.lon - b.lon)
         |    + (a.lat - b.lat) * (a.lat - b.lat) AS d2
         |  FROM a CROSS JOIN b
         |  WHERE (a.lon - b.lon) * (a.lon - b.lon)
         |    + (a.lat - b.lat) * (a.lat - b.lat) <= ${1600000L * 1600000L}),
         |r AS (SELECT CAST(unnest([200000, 400000, 800000, 1600000])
         |  AS BIGINT) AS r_micro)
         |SELECT r.r_micro, CAST(count(d.d2) AS BIGINT) AS pairs,
         |  (SELECT count(*) FROM a) AS n_a,
         |  (SELECT count(*) FROM b) AS n_b
         |FROM r LEFT JOIN d ON d.d2 <= r.r_micro * r.r_micro
         |GROUP BY r.r_micro ORDER BY r_micro""".stripMargin,
    "q9i_anchors" ->
      // stay-chain replay → per-cell dwell/fix sums → deterministic rank
      s"""WITH f AS (SELECT user_id AS ent, epoch_us(ts) AS tus,
         |  event_id AS oid,
         |  ${Derive.lonSql("(user_id % 13)")}
         |    + ((user_id * 31 + ((epoch_us(ts) - 1704067200000000)
         |        // 259200000000) * 7) * 48271) % 600001 - 300000
         |    + (event_id * 7919) % 200001 - 100000 AS lon,
         |  ${Derive.latSql("(user_id % 13)")}
         |    + ((user_id * 17 + ((epoch_us(ts) - 1704067200000000)
         |        // 259200000000) * 11) * 16807) % 600001 - 300000
         |    + ((event_id + 3) * 104729) % 200001 - 100000 AS lat
         |  FROM events),
         |c AS (SELECT ent, tus, oid, (lon + 180000000) // 400000 AS cx,
         |  (lat + 90000000) // 400000 AS cy FROM f),
         |l AS (SELECT *, CASE WHEN lag(cx) OVER w IS NULL
         |    OR lag(cx) OVER w <> cx OR lag(cy) OVER w <> cy
         |  THEN 1 ELSE 0 END AS nw FROM c
         |  WINDOW w AS (PARTITION BY ent ORDER BY tus, oid)),
         |r AS (SELECT *, sum(nw) OVER (PARTITION BY ent ORDER BY tus, oid
         |  ROWS UNBOUNDED PRECEDING) AS run FROM l),
         |v AS (SELECT ent, run, min(cx) AS cx, min(cy) AS cy,
         |  max(tus) - min(tus) AS dur, count(*) AS n FROM r GROUP BY 1, 2),
         |p AS (SELECT ent, cx, cy, CAST(sum(dur) AS BIGINT) AS dwell_us,
         |  CAST(sum(n) AS BIGINT) AS n_fixes FROM v GROUP BY 1, 2, 3),
         |k AS (SELECT *, row_number() OVER (PARTITION BY ent
         |  ORDER BY dwell_us DESC, n_fixes DESC, cx, cy) AS rnk FROM p)
         |SELECT ent AS entity, CAST(rnk AS BIGINT) AS rank, cx, cy,
         |  dwell_us, n_fixes FROM k WHERE rnk <= 3
         |ORDER BY entity, rank""".stripMargin,
    "q9j_isochrone" -> {
      // q83's chained-relaxation discipline on the mask's rook graph
      val K = 1073741824L; val g = 2000000L
      val srcs = (0L until 3L).map { j =>
        ((Derive.lonMicroL(j) + 180000000L) / g) * K +
          (Derive.latMicroL(j) + 90000000L) / g
      }
      val d0 = srcs.map(id => s"($id, 0)").mkString(", ")
      val rounds = (1 to 6).map { k =>
        s"""d$k AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
           |  SELECT node, dist FROM d${k - 1} UNION ALL
           |  SELECT e.d AS node, d${k - 1}.dist + 1 AS dist
           |  FROM d${k - 1} JOIN e ON d${k - 1}.node = e.s) GROUP BY node)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH pts AS (SELECT
         |  ${Derive.lonSql("(o_orderkey % 37)")}
         |    + (o_orderkey * 48271) % 9000001 - 4500000 + 180000000 AS wx,
         |  ${Derive.latSql("(o_orderkey % 37)")}
         |    + ((o_orderkey + 7) * 16807) % 9000001 - 4500000 + 90000000 AS wy
         |  FROM orders),
         |m AS (SELECT wx // $g AS px, wy // $g AS py FROM pts GROUP BY 1, 2),
         |e0 AS (SELECT a.px * $K + a.py AS s, b.px * $K + b.py AS d
         |  FROM m a JOIN m b ON (b.px = a.px + 1 AND b.py = a.py)
         |    OR (b.px = a.px AND b.py = a.py + 1)),
         |e AS MATERIALIZED (SELECT s, d FROM e0
         |  UNION ALL SELECT d AS s, s AS d FROM e0),
         |d0 AS (SELECT * FROM (VALUES $d0) t(node, dist)),
         |$rounds
         |SELECT node // $K AS cx, node % $K AS cy, dist AS dist_steps
         |FROM d6 ORDER BY cx, cy""".stripMargin
    },
    "q9k_covisits" ->
      // distinct visits → footprint cap → self-join on entity → cell counts
      s"""WITH f AS (SELECT user_id AS ent,
         |  ${Derive.lonSql("(user_id % 13)")}
         |    + ((user_id * 31 + ((epoch_us(ts) - 1704067200000000)
         |        // 259200000000) * 7) * 48271) % 600001 - 300000
         |    + (event_id * 7919) % 200001 - 100000 AS lon,
         |  ${Derive.latSql("(user_id % 13)")}
         |    + ((user_id * 17 + ((epoch_us(ts) - 1704067200000000)
         |        // 259200000000) * 11) * 16807) % 600001 - 300000
         |    + ((event_id + 3) * 104729) % 200001 - 100000 AS lat
         |  FROM events),
         |v AS (SELECT DISTINCT ent,
         |  ((lon + 180000000) // 400000) * 1073741824
         |    + (lat + 90000000) // 400000 AS cell FROM f),
         |kept AS MATERIALIZED (SELECT v.* FROM v JOIN (SELECT ent FROM v
         |  GROUP BY ent HAVING count(*) <= 64) k USING (ent)),
         |cn AS (SELECT cell, count(*) AS nv FROM kept GROUP BY cell),
         |p AS (SELECT a.cell AS ca, b.cell AS cb, count(*) AS co
         |  FROM kept a JOIN kept b ON a.ent = b.ent AND a.cell < b.cell
         |  GROUP BY 1, 2)
         |SELECT ca // 1073741824 AS a_cx, ca % 1073741824 AS a_cy,
         |  cb // 1073741824 AS b_cx, cb % 1073741824 AS b_cy,
         |  co AS co_visitors, na.nv AS n_a, nb.nv AS n_b
         |FROM p JOIN cn na ON na.cell = p.ca JOIN cn nb ON nb.cell = p.cb
         |ORDER BY 1, 2, 3, 4""".stripMargin,
    "q9l_sobel" ->
      // direct convolution twin: dilated targets × Chebyshev-1 neighbors,
      // G(d) = d·(2 − |d⊥|) evaluated in the join
      s"""WITH pts AS (SELECT
         |  ${Derive.lonSql("o_orderkey")} + 180000000 AS wx,
         |  ${Derive.latSql("o_orderkey")} + 90000000 AS wy FROM orders),
         |c AS MATERIALIZED (SELECT wx // 2000000 AS px, wy // 2000000 AS py,
         |  count(*) AS n FROM pts GROUP BY 1, 2),
         |t AS (SELECT DISTINCT px + ox AS tx, py + oy AS ty
         |  FROM c CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS ox)
         |  CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS oy)
         |  WHERE px + ox >= 0 AND px + ox <= ${360000000L / 2000000L - 1}
         |    AND py + oy >= 0 AND py + oy <= ${180000000L / 2000000L - 1}),
         |s AS (SELECT t.tx AS cx, t.ty AS cy,
         |  CAST(COALESCE(sum(CASE WHEN c.px = t.tx AND c.py = t.ty
         |    THEN c.n ELSE 0 END), 0) AS BIGINT) AS n,
         |  CAST(COALESCE(sum(c.n * (c.px - t.tx)
         |    * (2 - abs(c.py - t.ty))), 0) AS BIGINT) AS gx,
         |  CAST(COALESCE(sum(c.n * (c.py - t.ty)
         |    * (2 - abs(c.px - t.tx))), 0) AS BIGINT) AS gy
         |  FROM t LEFT JOIN c ON abs(c.px - t.tx) <= 1
         |    AND abs(c.py - t.ty) <= 1
         |  GROUP BY 1, 2)
         |SELECT cx, cy, n, gx, gy, gx * gx + gy * gy AS g2
         |FROM s ORDER BY cx, cy""".stripMargin,
    "q9m_frechet" -> {
      // anti-diagonal wavefront replay: F on diag s needs diags s−1, s−2 —
      // one MATERIALIZED CTE per diagonal (cap 12 visits ⇒ s ≤ 24), each
      // cell computed exactly once, greatest(d², min(preds)) at the edges
      // degenerates to the correct 1-D recurrences (missing preds don't join)
      val rounds = (3 to 24).map { s =>
        val prevs =
          if (s == 3) "SELECT * FROM f2"
          else s"SELECT * FROM f${s - 1} UNION ALL SELECT * FROM f${s - 2}"
        s"""f$s AS MATERIALIZED (SELECT d.ea, d.eb, d.i, d.j,
           |  greatest(d.d2, min(p.f)) AS f
           |  FROM d JOIN ($prevs) p ON p.ea = d.ea AND p.eb = d.eb
           |    AND ((p.i = d.i - 1 AND p.j = d.j)
           |      OR (p.i = d.i AND p.j = d.j - 1)
           |      OR (p.i = d.i - 1 AND p.j = d.j - 1))
           |  WHERE d.i + d.j = $s
           |  GROUP BY d.ea, d.eb, d.i, d.j, d.d2)""".stripMargin
      }.mkString(",\n")
      val unions = (2 to 24).map(s => s"SELECT * FROM f$s")
        .mkString(" UNION ALL ")
      s"""WITH f0 AS (SELECT user_id AS ent, epoch_us(ts) AS tus,
         |  event_id AS oid,
         |  ${Derive.lonSql("(user_id % 13)")}
         |    + (((epoch_us(ts) - 1704067200000000) // 259200000000
         |       + user_id) % 4) * 600000 AS lon,
         |  ${Derive.latSql("(user_id % 13)")}
         |    + (((epoch_us(ts) - 1704067200000000) // 259200000000
         |       + user_id) % 4) * 450000 AS lat
         |  FROM events),
         |c AS (SELECT ent, tus, oid, (lon + 180000000) // 400000 AS cx,
         |  (lat + 90000000) // 400000 AS cy FROM f0),
         |l AS (SELECT *, CASE WHEN lag(cx) OVER w IS NULL
         |    OR lag(cx) OVER w <> cx OR lag(cy) OVER w <> cy
         |  THEN 1 ELSE 0 END AS nw FROM c
         |  WINDOW w AS (PARTITION BY ent ORDER BY tus, oid)),
         |r AS (SELECT *, sum(nw) OVER (PARTITION BY ent ORDER BY tus, oid
         |  ROWS UNBOUNDED PRECEDING) AS run FROM l),
         |v0 AS (SELECT ent, run, min(cx) AS cx, min(cy) AS cy
         |  FROM r GROUP BY 1, 2),
         |vi AS MATERIALIZED (SELECT v0.ent,
         |  row_number() OVER (PARTITION BY v0.ent ORDER BY v0.run) AS i,
         |  v0.cx, v0.cy FROM v0
         |  JOIN (SELECT ent FROM v0 GROUP BY ent HAVING count(*) <= 12) k
         |    USING (ent)),
         |pr AS MATERIALIZED (SELECT DISTINCT a.ent AS ea, b.ent AS eb
         |  FROM vi a JOIN vi b
         |  ON a.cx = b.cx AND a.cy = b.cy AND a.ent < b.ent),
         |d AS MATERIALIZED (SELECT pr.ea, pr.eb, a.i, b.i AS j,
         |  (a.cx - b.cx) * (a.cx - b.cx)
         |    + (a.cy - b.cy) * (a.cy - b.cy) AS d2
         |  FROM pr JOIN vi a ON a.ent = pr.ea JOIN vi b ON b.ent = pr.eb),
         |f2 AS MATERIALIZED (SELECT ea, eb, i, j, d2 AS f FROM d
         |  WHERE i = 1 AND j = 1),
         |$rounds,
         |allf AS ($unions),
         |ln AS (SELECT ent, count(*) AS n FROM vi GROUP BY ent)
         |SELECT f.ea AS ent_a, f.eb AS ent_b, CAST(f.f AS BIGINT)
         |  AS frechet_d2
         |FROM allf f JOIN ln la ON la.ent = f.ea JOIN ln lb ON lb.ent = f.eb
         |WHERE f.i = la.n AND f.j = lb.n ORDER BY 1, 2""".stripMargin
    },
    "q9n_boundary" ->
      // mask → 4-side candidates → anti-join on the rook neighbor
      s"""WITH pts AS (SELECT
         |  ${Derive.lonSql("o_orderkey")} + 180000000 AS wx,
         |  ${Derive.latSql("o_orderkey")} + 90000000 AS wy FROM orders),
         |m AS MATERIALIZED (SELECT wx // 4000000 AS px, wy // 4000000 AS py
         |  FROM pts GROUP BY 1, 2 HAVING count(*) >= 4),
         |sides AS (SELECT * FROM (VALUES (0, -1, 0), (1, 1, 0), (2, 0, -1),
         |  (3, 0, 1)) t(s, dx, dy)),
         |cand AS (SELECT m.px, m.py, sides.s,
         |  m.px + sides.dx AS nx, m.py + sides.dy AS ny
         |  FROM m CROSS JOIN sides)
         |SELECT c.px AS cx, c.py AS cy, CAST(c.s AS BIGINT) AS side,
         |  (CASE WHEN c.s = 1 THEN c.px + 1 ELSE c.px END) * 4000000
         |    - 180000000 AS x1,
         |  (CASE WHEN c.s = 3 THEN c.py + 1 ELSE c.py END) * 4000000
         |    - 90000000 AS y1,
         |  (CASE WHEN c.s = 0 THEN c.px ELSE c.px + 1 END) * 4000000
         |    - 180000000 AS x2,
         |  (CASE WHEN c.s = 2 THEN c.py ELSE c.py + 1 END) * 4000000
         |    - 90000000 AS y2
         |FROM cand c LEFT JOIN m n ON n.px = c.nx AND n.py = c.ny
         |WHERE n.px IS NULL ORDER BY cx, cy, side""".stripMargin,
    "q9o_thumbnails" -> {
      // generator-rule replay: pixels → the same integer resize → the same
      // deterministic PNG writer → per-dims length totals
      import graft.fixtures.{Fixtures, ImageCodec}
      val agg = scala.collection.mutable.Map[(Int, Int), (Long, Long)]()
      (0L until 5000L).foreach { i =>
        val (lon, lat) = Fixtures.locOf(i)
        val phash = graft.core.PhashLoc.encode(lon, lat)
        val (w, h) = Fixtures.dimsOf(i)
        val px = ImageCodec.pixelsFromHash(phash, w, h)
        val out = new Array[Byte](16 * 16)
        var y = 0
        while (y < 16) {
          val sy = y * h / 16
          var x = 0
          while (x < 16) { out(y * 16 + x) = px(sy * w + x * w / 16); x += 1 }
          y += 1
        }
        val len = ImageCodec.encodePng(out, 16, 16).length.toLong
        val (n, b) = agg.getOrElse((w, h), (0L, 0L))
        agg((w, h)) = (n + 1, b + len)
      }
      val vals = agg.toSeq.sortBy(_._1).map { case ((w, h), (n, b)) =>
        s"($w, $h, CAST($n AS BIGINT), CAST($b AS BIGINT))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(w, h, n_images, thumb_bytes) " +
        "ORDER BY w, h"
    },
    "q9p_vertex_triangles" ->
      // canonical triangle triples → ×3 vertex explode → zerofilled join
      """WITH raw AS (SELECT
        |  least(o_orderkey % 300, (o_orderkey // 300 + o_orderkey * 7919) % 300) AS a,
        |  greatest(o_orderkey % 300, (o_orderkey // 300 + o_orderkey * 7919) % 300) AS b
        |  FROM orders),
        |e AS MATERIALIZED (SELECT DISTINCT a, b FROM raw WHERE a <> b),
        |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1
        |  JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tv AS (SELECT x AS n FROM t UNION ALL SELECT y FROM t
        |  UNION ALL SELECT z FROM t),
        |tc AS (SELECT n, count(*) AS triangles FROM tv GROUP BY n),
        |deg AS (SELECT n, count(*) AS degree FROM
        |  (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n)
        |SELECT deg.n, CAST(COALESCE(tc.triangles, 0) AS BIGINT) AS triangles,
        |  deg.degree
        |FROM deg LEFT JOIN tc USING (n) ORDER BY n""".stripMargin,
    "q9q_participation" ->
      // brute witness-exists join → distinct participant collapse → zerofill
      s"""WITH p AS (SELECT p_partkey AS id, p_partkey % 5 AS cat,
         |  ${Derive.lonSql("(p_partkey % 39)")}
         |    + (p_partkey * 48271) % 800001 - 400000 AS x,
         |  ${Derive.latSql("(p_partkey % 39)")}
         |    + ((p_partkey + 7) * 16807) % 800001 - 400000 AS y
         |  FROM part),
         |w AS (SELECT DISTINCT a.id, a.cat AS cat_a, b.cat AS cat_b
         |  FROM p a JOIN p b ON a.id <> b.id
         |  AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         |    <= ${300000L * 300000L}),
         |nw AS (SELECT cat_a, cat_b, count(*) AS n_with FROM w GROUP BY 1, 2),
         |tot AS (SELECT cat AS cat_a, count(*) AS n_total FROM p GROUP BY 1),
         |frame AS (SELECT a.cat_a, b.cat_a AS cat_b, a.n_total
         |  FROM tot a CROSS JOIN tot b)
         |SELECT f.cat_a, f.cat_b,
         |  CAST(COALESCE(nw.n_with, 0) AS BIGINT) AS n_with, f.n_total
         |FROM frame f LEFT JOIN nw USING (cat_a, cat_b)
         |ORDER BY 1, 2""".stripMargin,
    "q9r_catchments" -> {
      // q9j's chained relaxation with labels: per round, union then min
      // dist per node, then min label among rows achieving it
      val K = 1073741824L; val g = 2000000L
      val d0 = (0L until 3L).map { j =>
        val id = ((Derive.lonMicroL(j) + 180000000L) / g) * K +
          (Derive.latMicroL(j) + 90000000L) / g
        s"($id, 0, $j)"
      }.mkString(", ")
      val rounds = (1 to 6).map { k =>
        s"""c$k AS (SELECT node, dist, lab FROM d${k - 1} UNION ALL
           |  SELECT e.d AS node, d${k - 1}.dist + 1 AS dist, d${k - 1}.lab
           |  FROM d${k - 1} JOIN e ON d${k - 1}.node = e.s),
           |d$k AS (SELECT c.node, CAST(mm.m AS BIGINT) AS dist,
           |  CAST(min(c.lab) AS BIGINT) AS lab
           |  FROM c$k c JOIN (SELECT node, min(dist) AS m FROM c$k
           |    GROUP BY node) mm ON mm.node = c.node AND c.dist = mm.m
           |  GROUP BY c.node, mm.m)""".stripMargin
      }.mkString(",\n")
      s"""WITH pts AS (SELECT
         |  ${Derive.lonSql("(o_orderkey % 37)")}
         |    + (o_orderkey * 48271) % 9000001 - 4500000 + 180000000 AS wx,
         |  ${Derive.latSql("(o_orderkey % 37)")}
         |    + ((o_orderkey + 7) * 16807) % 9000001 - 4500000 + 90000000 AS wy
         |  FROM orders),
         |m AS (SELECT wx // $g AS px, wy // $g AS py FROM pts GROUP BY 1, 2),
         |e0 AS (SELECT a.px * $K + a.py AS s, b.px * $K + b.py AS d
         |  FROM m a JOIN m b ON (b.px = a.px + 1 AND b.py = a.py)
         |    OR (b.px = a.px AND b.py = a.py + 1)),
         |e AS MATERIALIZED (SELECT s, d FROM e0
         |  UNION ALL SELECT d AS s, s AS d FROM e0),
         |d0 AS (SELECT * FROM (VALUES $d0) t(node, dist, lab)),
         |$rounds
         |SELECT node // $K AS cx, node % $K AS cy, dist AS dist_steps,
         |  lab AS src_id FROM d6 ORDER BY cx, cy""".stripMargin
    },
    "q9s_next_cell_eval" ->
      // stay-chain replay → indexed visits → split → argmax model via
      // row_number (c DESC, tx, ty) → honest-miss left join
      s"""WITH f AS (SELECT user_id AS ent, epoch_us(ts) AS tus,
         |  event_id AS oid,
         |  ${Derive.lonSql("(user_id % 13)")}
         |    + ((user_id * 31 + ((epoch_us(ts) - 1704067200000000)
         |        // 259200000000) * 7) * 48271) % 600001 - 300000
         |    + (event_id * 7919) % 200001 - 100000 AS lon,
         |  ${Derive.latSql("(user_id % 13)")}
         |    + ((user_id * 17 + ((epoch_us(ts) - 1704067200000000)
         |        // 259200000000) * 11) * 16807) % 600001 - 300000
         |    + ((event_id + 3) * 104729) % 200001 - 100000 AS lat
         |  FROM events),
         |c AS (SELECT ent, tus, oid, (lon + 180000000) // 400000 AS cx,
         |  (lat + 90000000) // 400000 AS cy FROM f),
         |l AS (SELECT *, CASE WHEN lag(cx) OVER w IS NULL
         |    OR lag(cx) OVER w <> cx OR lag(cy) OVER w <> cy
         |  THEN 1 ELSE 0 END AS nw FROM c
         |  WINDOW w AS (PARTITION BY ent ORDER BY tus, oid)),
         |r AS (SELECT *, sum(nw) OVER (PARTITION BY ent ORDER BY tus, oid
         |  ROWS UNBOUNDED PRECEDING) AS run FROM l),
         |v0 AS (SELECT ent, run, min(cx) AS cx, min(cy) AS cy
         |  FROM r GROUP BY 1, 2),
         |vi AS (SELECT ent, row_number() OVER (PARTITION BY ent
         |    ORDER BY run) AS i,
         |  count(*) OVER (PARTITION BY ent) AS n, cx, cy FROM v0),
         |tr AS MATERIALIZED (SELECT a.ent, b.cx AS fx, b.cy AS fy,
         |  a.cx AS tx, a.cy AS ty, a.i <= (a.n * 700) // 1000 AS train
         |  FROM vi a JOIN vi b ON b.ent = a.ent AND b.i = a.i - 1),
         |mc AS (SELECT fx, fy, tx, ty, count(*) AS c FROM tr
         |  WHERE train GROUP BY 1, 2, 3, 4),
         |md AS (SELECT fx, fy, tx AS px, ty AS py FROM (SELECT *,
         |  row_number() OVER (PARTITION BY fx, fy
         |    ORDER BY c DESC, tx, ty) AS rn FROM mc) WHERE rn = 1)
         |SELECT count(*) AS n_test,
         |  CAST(COALESCE(sum(CASE WHEN md.px = tr.tx AND md.py = tr.ty
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit
         |FROM tr LEFT JOIN md ON md.fx = tr.fx AND md.fy = tr.fy
         |WHERE NOT tr.train""".stripMargin,
    "q9t_wht_energy" -> {
      // generator replay: direct-definition 2D WHT of each phash bit grid
      val seq = Array(0, 7, 3, 4, 1, 6, 2, 5)
      var n = 0L; var dct = 0L; var lot = 0L; var hit = 0L
      (0L until 5000L).foreach { i =>
        val (lon, lat) = graft.fixtures.Fixtures.locOf(i)
        val p = graft.core.PhashLoc.encode(lon, lat)
        def g(b: Int) = if (((p >>> b) & 1L) == 1L) 200L else 50L
        for (u <- 0 until 8; x <- 0 until 8) {
          val c = (for (gy <- 0 until 8; gx <- 0 until 8) yield {
            val sgn = java.lang.Integer.bitCount(u & gy) +
              java.lang.Integer.bitCount(x & gx)
            if (sgn % 2 == 0) g(gy * 8 + gx) else -g(gy * 8 + gx)
          }).sum
          val e = math.abs(c)
          if (u == 0 && x == 0) dct += e
          else if (seq(u) + seq(x) < 8) lot += e else hit += e
        }
        n += 1
      }
      s"SELECT CAST($n AS BIGINT) AS n_images, CAST($dct AS BIGINT) AS dc_total, " +
        s"CAST($lot AS BIGINT) AS low_total, CAST($hit AS BIGINT) AS high_total"
    },
    "q9u_st_dbscan" ->
      s"""$stDbscanCteSql
         |SELECT id, cluster FROM lbl ORDER BY id""".stripMargin,
    "qae_visit_conc" ->
      s"""WITH f AS (SELECT user_id AS ent,
         |  (${Derive.lonSql("(user_id % 13)")}
         |    + ((user_id * 31 + ((epoch_us(ts) - 1704067200000000)
         |        // 259200000000) * 7) * 48271) % 600001 - 300000
         |    + (event_id * 7919) % 200001 - 100000 + 180000000)
         |      // 400000 AS cx,
         |  (${Derive.latSql("(user_id % 13)")}
         |    + ((user_id * 17 + ((epoch_us(ts) - 1704067200000000)
         |        // 259200000000) * 11) * 16807) % 600001 - 300000
         |    + ((event_id + 3) * 104729) % 200001 - 100000 + 90000000)
         |      // 400000 AS cy
         |  FROM events),
         |c AS (SELECT ent, cx, cy, count(*) AS n FROM f GROUP BY 1, 2, 3)
         |SELECT ent AS entity, CAST(sum(n) AS BIGINT) AS n_fixes,
         |  CAST(count(*) AS BIGINT) AS n_cells,
         |  CAST(sum(n * n) AS BIGINT) AS coll,
         |  CAST(max(n) AS BIGINT) AS max_cell_n
         |FROM c GROUP BY ent ORDER BY entity""".stripMargin,
    "qad_join_counts" ->
      // same right/up rook pairing + color census
      s"""WITH pts AS (SELECT
         |  ${Derive.lonSql("(o_orderkey % 37)")}
         |    + (o_orderkey * 48271) % 9000001 - 4500000 AS lon,
         |  ${Derive.latSql("(o_orderkey % 37)")}
         |    + ((o_orderkey + 7) * 16807) % 9000001 - 4500000 AS lat
         |  FROM orders),
         |r AS (SELECT (lon + 180000000) // 2000000 AS px,
         |    (lat + 90000000) // 2000000 AS py,
         |    CASE WHEN count(*) >= 10 THEN 1 ELSE 0 END AS b
         |  FROM pts GROUP BY 1, 2),
         |pr AS (SELECT a.b AS ba, c.b AS bb_ FROM r a
         |  JOIN r c ON (c.px = a.px + 1 AND c.py = a.py)
         |           OR (c.px = a.px AND c.py = a.py + 1)),
         |cen AS (SELECT CAST(sum(b) AS BIGINT) AS n_black,
         |  CAST(count(*) - sum(b) AS BIGINT) AS n_white FROM r)
         |SELECT cen.n_black, cen.n_white,
         |  CAST(sum(ba * bb_) AS BIGINT) AS bb,
         |  CAST(sum(CASE WHEN ba <> bb_ THEN 1 ELSE 0 END) AS BIGINT) AS bw,
         |  CAST(sum(CASE WHEN ba = 0 AND bb_ = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS ww,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pr CROSS JOIN cen
         |GROUP BY cen.n_black, cen.n_white""".stripMargin,
    "qab_clark_evans" ->
      // brute window NN by (d2, id) + the same floor-sqrt chain
      s"""WITH p AS (SELECT c_custkey AS pid, c_custkey % 5 AS cat,
         |  ${Derive.lonSql("c_custkey")} AS x, ${Derive.latSql("c_custkey")} AS y
         |  FROM customer),
         |nn AS (SELECT pid, cat, CAST(floor(sqrt(CAST(d2 AS DOUBLE)))
         |    AS BIGINT) AS nn_q FROM (
         |  SELECT a.pid, a.cat,
         |    (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y) AS d2,
         |    row_number() OVER (PARTITION BY a.pid ORDER BY
         |      (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y), b.pid) AS rn
         |  FROM p a JOIN p b ON a.pid <> b.pid) WHERE rn = 1)
         |SELECT cat, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(nn_q) AS BIGINT) AS sum_nn_q,
         |  min(nn_q) AS min_nn_q, max(nn_q) AS max_nn_q
         |FROM nn GROUP BY cat ORDER BY cat""".stripMargin,
    "qac_quadrat" ->
      s"""WITH q AS (SELECT (${Derive.lonSql("c_custkey")} + 180000000)
         |      // 10000000 AS qx,
         |    (${Derive.latSql("c_custkey")} + 90000000) // 10000000 AS qy
         |  FROM customer),
         |c AS (SELECT qx, qy, count(*) AS n FROM q GROUP BY qx, qy),
         |f AS (SELECT min(qx) x0, max(qx) x1, min(qy) y0, max(qy) y1 FROM q)
         |SELECT CAST((f.x1 - f.x0 + 1) * (f.y1 - f.y0 + 1) AS BIGINT)
         |    AS n_quadrats,
         |  (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_occupied,
         |  (SELECT CAST(sum(n) AS BIGINT) FROM c) AS n_points,
         |  (SELECT CAST(sum(n * n) AS BIGINT) FROM c) AS sum_n2
         |FROM f""".stripMargin,
    "qaa_stream_hotspot" ->
      // batch twin: the threshold-th fix per cell in (tus, oid) order
      s"""WITH f AS (SELECT epoch_us(ts) AS tus, event_id AS oid,
         |  ${Derive.lonSql("(user_id % 13)")}
         |    + ((user_id * 31 + ((epoch_us(ts) - 1704067200000000)
         |        // 259200000000) * 7) * 48271) % 600001 - 300000
         |    + (event_id * 7919) % 200001 - 100000 AS lon,
         |  ${Derive.latSql("(user_id % 13)")}
         |    + ((user_id * 17 + ((epoch_us(ts) - 1704067200000000)
         |        // 259200000000) * 11) * 16807) % 600001 - 300000
         |    + ((event_id + 3) * 104729) % 200001 - 100000 AS lat
         |  FROM events),
         |c AS (SELECT (lon + 180000000) // 400000 AS cx,
         |    (lat + 90000000) // 400000 AS cy, tus, oid FROM f),
         |r AS (SELECT cx, cy, tus, oid, row_number() OVER (
         |    PARTITION BY cx, cy ORDER BY tus, oid) AS rn FROM c)
         |SELECT cx, cy, tus AS t_cross, oid AS oid_cross,
         |  CAST(20 AS BIGINT) AS n_at_cross
         |FROM r WHERE rn = 20 ORDER BY cx, cy""".stripMargin,
    "qa9_otsu" -> {
      // generator replay: both tones present -> every valid split ties,
      // smallest t = 51, n_below = count of 50-luma pixels; single tone
      // (popcount 0 or 64) -> t = -1, n_below = 0
      import graft.fixtures.Fixtures
      val per = scala.collection.mutable.Map[Int, (Long, Long)]()
      (0L until 5000L).foreach { i =>
        val (lon, lat) = Fixtures.locOf(i)
        val p = graft.core.PhashLoc.encode(lon, lat)
        val (w, h) = Fixtures.dimsOf(i)
        val bpx = (w / 8).toLong * (h / 8)
        val pc = java.lang.Long.bitCount(p).toLong
        val (t, nb) = if (pc == 0L || pc == 64L) (-1, 0L)
          else (51, (64L - pc) * bpx)
        val (n, s0) = per.getOrElse(t, (0L, 0L))
        per(t) = (n + 1, s0 + nb)
      }
      val vals = per.toSeq.sortBy(_._1).map { case (t, (n, s0)) =>
        s"($t, CAST($n AS BIGINT), CAST($s0 AS BIGINT))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(otsu_t, n_images, below_total) " +
        "ORDER BY otsu_t"
    },
    "qa8_cluster_ellipse" ->
      // shared DBSCAN label CTE + the same anchor-shifted integer sums
      s"""$dbscanCteSql,
         |pc AS (SELECT l.cluster AS lbl, p.x, p.y FROM lbl l
         |  JOIN pts p ON l.id = p.id WHERE l.cluster <> -1),
         |anc AS (SELECT lbl, min(x) AS ax, min(y) AS ay FROM pc GROUP BY lbl)
         |SELECT pc.lbl AS label, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(pc.x - anc.ax) AS BIGINT) AS sum_dx,
         |  CAST(sum(pc.y - anc.ay) AS BIGINT) AS sum_dy,
         |  CAST(sum((pc.x - anc.ax) * (pc.x - anc.ax)) AS BIGINT) AS sum_dx2,
         |  CAST(sum((pc.y - anc.ay) * (pc.y - anc.ay)) AS BIGINT) AS sum_dy2,
         |  CAST(sum((pc.x - anc.ax) * (pc.y - anc.ay)) AS BIGINT) AS sum_dxy
         |FROM pc JOIN anc ON pc.lbl = anc.lbl
         |GROUP BY pc.lbl ORDER BY label""".stripMargin,
    "qa7_viterbi" -> {
      // independent forward DP: the uniform-λ transition collapses to
      // cost(s) = d2(s) + min(stay(s), m_prev + λ) — one chained CTE pair
      // per fix index; its minimum is the optimum the path total must hit
      val lonA = Derive.lonSql("(((o_orderkey - 1) % 100) * 7 + 1)")
      val latA = Derive.latSql("(((o_orderkey - 1) % 100) * 7 + 1)")
      val lonH = Derive.lonSql("((s_suppkey % 100) * 7 + 1)")
      val latH = Derive.latSql("((s_suppkey % 100) * 7 + 1)")
      val lam = 800000000L
      val steps = (1 to 5).map { k =>
        s"""m${k - 1} AS (SELECT ent, min(cost) AS m FROM v${k - 1}
           |  GROUP BY ent),
           |v$k AS (SELECT c.ent, c.sid, c.d2 + LEAST(
           |    coalesce(p.cost, 1000000000000000), m.m + $lam) AS cost
           |  FROM cand c JOIN m${k - 1} m ON m.ent = c.ent
           |  LEFT JOIN v${k - 1} p ON p.ent = c.ent AND p.sid = c.sid
           |  WHERE c.idx = $k)""".stripMargin
      }.mkString(",\n")
      s"""WITH fx AS (SELECT (o_orderkey - 1) % 100 AS ent,
         |    (o_orderkey - 1) // 100 AS idx,
         |    $lonA + ((o_orderkey - 1) // 100) * 20000 AS px,
         |    $latA + (o_orderkey * 104729) % 30001 - 15000 AS py
         |  FROM orders
         |  WHERE o_orderkey >= 1 AND (o_orderkey - 1) // 100 < 6),
         |sg AS (SELECT s_suppkey * 2 + k.k AS sid,
         |    $lonH - 50000 AS x1, $latH + k.k * 20000 - 10000 AS y1,
         |    $lonH + 200000 AS x2, $latH + k.k * 20000 - 10000 AS y2
         |  FROM supplier, (SELECT unnest([0, 1]) AS k) k),
         |dd AS (SELECT f.ent, f.idx, s.sid,
         |    CAST(f.px - s.x1 AS DOUBLE) AS wx, CAST(f.py - s.y1 AS DOUBLE) AS wy,
         |    CAST(s.x2 - s.x1 AS DOUBLE) AS dx, CAST(s.y2 - s.y1 AS DOUBLE) AS dy
         |  FROM fx f CROSS JOIN sg s),
         |tt AS (SELECT ent, idx, sid, wx, wy, dx, dy,
         |    CASE WHEN dx * dx + dy * dy = 0.0 THEN 0.0
         |         ELSE LEAST(GREATEST((wx * dx + wy * dy) / (dx * dx + dy * dy),
         |           0.0), 1.0) END AS t
         |  FROM dd),
         |cand AS (SELECT ent, idx, sid, d2 FROM (SELECT ent, idx, sid,
         |    CAST(floor((wx - t * dx) * (wx - t * dx)
         |      + (wy - t * dy) * (wy - t * dy)) AS BIGINT) AS d2 FROM tt)
         |  WHERE d2 <= ${40000L * 40000L}),
         |v0 AS (SELECT ent, sid, d2 AS cost FROM cand WHERE idx = 0),
         |$steps,
         |nf AS (SELECT ent, CAST(count(*) AS BIGINT) AS n_fixes
         |  FROM fx GROUP BY ent),
         |tot AS (SELECT ent, min(cost) AS total_cost FROM v5 GROUP BY ent)
         |SELECT t.ent AS entity, nf.n_fixes,
         |  CAST(t.total_cost AS BIGINT) AS total_cost
         |FROM tot t JOIN nf ON nf.ent = t.ent ORDER BY entity""".stripMargin
    },
    "qa6_lpa" -> {
      // 4 chained synchronous rounds, QUALIFY argmin with the same
      // (cnt DESC, label) total rule
      val rounds = (1 to 4).map { i =>
        s"""l$i AS (SELECT a AS node, nl AS lbl FROM (
           |  SELECT u.a, l.lbl AS nl, count(*) AS cnt
           |  FROM und u JOIN l${i - 1} l ON u.b = l.node GROUP BY 1, 2
           |  QUALIFY row_number() OVER (
           |    PARTITION BY u.a ORDER BY cnt DESC, nl) = 1))""".stripMargin
      }.mkString(",\n")
      s"""WITH g AS (SELECT (o_orderkey * o_orderkey) % 2311 AS x,
         |    (o_orderkey * 7919 + 13) % ((o_orderkey % 389) + 7) AS y
         |  FROM orders
         |  UNION ALL SELECT o_orderkey % 14 + 10000, o_orderkey % 14 + 10001
         |  FROM orders),
         |und AS (SELECT x AS a, y AS b FROM g WHERE x <> y
         |  UNION SELECT y, x FROM g WHERE x <> y),
         |l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM und),
         |$rounds
         |SELECT node, lbl FROM l4 ORDER BY node""".stripMargin
    },
    "qa4_focal_median" ->
      // same scatter + ordered-list lower median (1-based [(m+1)//2])
      s"""WITH pts AS (SELECT
         |  ${Derive.lonSql("(o_orderkey % 37)")}
         |    + (o_orderkey * 48271) % 9000001 - 4500000 AS lon,
         |  ${Derive.latSql("(o_orderkey % 37)")}
         |    + ((o_orderkey + 7) * 16807) % 9000001 - 4500000 AS lat
         |  FROM orders),
         |r AS (SELECT (lon + 180000000) // 2000000 AS px,
         |    (lat + 90000000) // 2000000 AS py, count(*) AS n
         |  FROM pts GROUP BY 1, 2),
         |o AS (SELECT dx.g AS dx, dy.g AS dy
         |  FROM (SELECT unnest(generate_series(-1, 1)) AS g) dx,
         |       (SELECT unnest(generate_series(-1, 1)) AS g) dy),
         |e AS (SELECT r.px + o.dx AS px, r.py + o.dy AS py, r.n AS v
         |  FROM r CROSS JOIN o),
         |m AS (SELECT px, py, list(v ORDER BY v) AS vs
         |  FROM e GROUP BY 1, 2)
         |SELECT r.px AS cx, r.py AS cy, r.n,
         |  m.vs[(len(m.vs) + 1) // 2] AS med
         |FROM r JOIN m ON m.px = r.px AND m.py = r.py
         |ORDER BY cx, cy""".stripMargin,
    "qa5_gyration" ->
      // q9i's slot fixture + the same anchor-shifted integer sums
      s"""WITH f AS (SELECT user_id AS ent,
         |  ${Derive.lonSql("(user_id % 13)")}
         |    + ((user_id * 31 + ((epoch_us(ts) - 1704067200000000)
         |        // 259200000000) * 7) * 48271) % 600001 - 300000
         |    + (event_id * 7919) % 200001 - 100000 AS x,
         |  ${Derive.latSql("(user_id % 13)")}
         |    + ((user_id * 17 + ((epoch_us(ts) - 1704067200000000)
         |        // 259200000000) * 11) * 16807) % 600001 - 300000
         |    + ((event_id + 3) * 104729) % 200001 - 100000 AS y
         |  FROM events),
         |a AS (SELECT ent, min(x) AS ax, min(y) AS ay FROM f GROUP BY ent)
         |SELECT f.ent AS entity, CAST(count(*) AS BIGINT) AS n_fixes,
         |  CAST(sum(f.x - a.ax) AS BIGINT) AS sum_dx,
         |  CAST(sum(f.y - a.ay) AS BIGINT) AS sum_dy,
         |  CAST(sum((f.x - a.ax) * (f.x - a.ax)
         |    + (f.y - a.ay) * (f.y - a.ay)) AS BIGINT) AS sum_d2
         |FROM f JOIN a ON f.ent = a.ent
         |GROUP BY f.ent ORDER BY entity""".stripMargin,
    "qa3_zonal_majority" ->
      // inclusive-bbox zone test (rect raycast == bbox) + window argmins
      // with the same deterministic tie rules
      s"""WITH pts AS (SELECT
         |  ${Derive.lonSql("(o_orderkey % 37)")}
         |    + (o_orderkey * 48271) % 9000001 - 4500000 AS lon,
         |  ${Derive.latSql("(o_orderkey % 37)")}
         |    + ((o_orderkey + 7) * 16807) % 9000001 - 4500000 AS lat
         |  FROM orders),
         |rst AS (SELECT (lon + 180000000) // 2000000 AS px,
         |    (lat + 90000000) // 2000000 AS py, count(*) AS n
         |  FROM pts GROUP BY 1, 2),
         |c AS (SELECT px * 2000000 + 1000000 - 180000000 AS lonm,
         |    py * 2000000 + 1000000 - 90000000 AS latm,
         |    CAST(CASE WHEN n >= 2 THEN 1 ELSE 0 END
         |      + CASE WHEN n >= 4 THEN 1 ELSE 0 END
         |      + CASE WHEN n >= 8 THEN 1 ELSE 0 END AS BIGINT) AS cls
         |  FROM rst),
         |z AS (SELECT r.poly_id, c.cls FROM c JOIN ${Derive.rectsSqlValues}
         |  ON c.lonm BETWEEN r.lon_min AND r.lon_max
         |  AND c.latm BETWEEN r.lat_min AND r.lat_max),
         |pc AS (SELECT poly_id, cls, count(*) AS cnt FROM z GROUP BY 1, 2),
         |maj AS (SELECT poly_id, cls AS majority_class,
         |    cnt AS majority_count FROM (SELECT *, row_number() OVER (
         |      PARTITION BY poly_id ORDER BY cnt DESC, cls) AS rn FROM pc)
         |  WHERE rn = 1),
         |mino AS (SELECT poly_id, cls AS minority_class,
         |    cnt AS minority_count FROM (SELECT *, row_number() OVER (
         |      PARTITION BY poly_id ORDER BY cnt, cls) AS rn FROM pc)
         |  WHERE rn = 1),
         |v AS (SELECT poly_id, CAST(count(*) AS BIGINT) AS variety,
         |    CAST(sum(cnt) AS BIGINT) AS n_cells FROM pc GROUP BY 1)
         |SELECT maj.poly_id, majority_class, majority_count,
         |  minority_class, minority_count, v.variety, v.n_cells
         |FROM maj JOIN mino ON maj.poly_id = mino.poly_id
         |JOIN v ON maj.poly_id = v.poly_id
         |ORDER BY maj.poly_id""".stripMargin,
    "qa2_clq" ->
      // brute NN by (d2, id) via a window over the full pair cross
      s"""WITH p AS (SELECT c_custkey AS pid, c_custkey % 5 AS cat,
         |  ${Derive.lonSql("c_custkey")} AS x, ${Derive.latSql("c_custkey")} AS y
         |  FROM customer),
         |nn AS (SELECT cat_a, cat_b FROM (
         |  SELECT a.cat AS cat_a, b.cat AS cat_b, row_number() OVER (
         |    PARTITION BY a.pid ORDER BY
         |      (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y), b.pid) AS rn
         |  FROM p a JOIN p b ON a.pid <> b.pid) WHERE rn = 1),
         |c AS (SELECT cat_a, cat_b, count(*) AS nn_count FROM nn GROUP BY 1, 2),
         |n AS (SELECT cat, count(*) AS n FROM p GROUP BY 1),
         |t AS (SELECT count(*) AS n_total FROM p)
         |SELECT na.cat AS cat_a, nb.cat AS cat_b,
         |  CAST(coalesce(c.nn_count, 0) AS BIGINT) AS nn_count,
         |  na.n AS n_a, nb.n AS n_b, t.n_total
         |FROM n na CROSS JOIN n nb CROSS JOIN t
         |LEFT JOIN c ON c.cat_a = na.cat AND c.cat_b = nb.cat
         |ORDER BY cat_a, cat_b""".stripMargin,
    "qa1_dhash" -> {
      // generator replay: dh bit (r,c) = 1 iff p bit (r,c) = 0 and p bit
      // (r,(c+1) mod 8) = 1 — blocks are the pooled cells
      import graft.fixtures.Fixtures
      val per = scala.collection.mutable.Map[Int, (Long, Long, Long)]()
      (0L until 5000L).foreach { i =>
        val (lon, lat) = Fixtures.locOf(i)
        val p = graft.core.PhashLoc.encode(lon, lat)
        var dh = 0L
        for (gy <- 0 until 8; gx <- 0 until 8) {
          val cur = (p >>> (gy * 8 + gx)) & 1L
          val nxt = (p >>> (gy * 8 + (gx + 1) % 8)) & 1L
          if (cur == 0L && nxt == 1L) dh |= 1L << (gy * 8 + gx)
        }
        val pop = java.lang.Long.bitCount(dh)
        val (n, mn, mx) = per.getOrElse(pop, (0L, Long.MaxValue, Long.MinValue))
        per(pop) = (n + 1, math.min(mn, dh), math.max(mx, dh))
      }
      val vals = per.toSeq.sortBy(_._1).map { case (pop, (n, mn, mx)) =>
        s"($pop, CAST($n AS BIGINT), CAST($mn AS BIGINT), CAST($mx AS BIGINT))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(dh_pop, n_images, min_dh, max_dh) " +
        "ORDER BY dh_pop"
    },
    "qa0_kde" ->
      // same collapse-then-scatter with the identical integer kernel
      s"""WITH pts AS (SELECT
         |  ${Derive.lonSql("(o_orderkey % 37)")}
         |    + (o_orderkey * 48271) % 9000001 - 4500000 AS lon,
         |  ${Derive.latSql("(o_orderkey % 37)")}
         |    + ((o_orderkey + 7) * 16807) % 9000001 - 4500000 AS lat
         |  FROM orders),
         |r AS (SELECT (lon + 180000000) // 2000000 AS px,
         |    (lat + 90000000) // 2000000 AS py, count(*) AS n
         |  FROM pts GROUP BY 1, 2),
         |o AS (SELECT dx.g AS dx, dy.g AS dy,
         |    (1000000 * (9 - (dx.g * dx.g + dy.g * dy.g))) // 9 AS w
         |  FROM (SELECT unnest(generate_series(-3, 3)) AS g) dx,
         |       (SELECT unnest(generate_series(-3, 3)) AS g) dy
         |  WHERE dx.g * dx.g + dy.g * dy.g < 9)
         |SELECT r.px + o.dx AS cx, r.py + o.dy AS cy,
         |  CAST(sum(CASE WHEN o.dx = 0 AND o.dy = 0 THEN r.n ELSE 0 END)
         |    AS BIGINT) AS raw,
         |  CAST(sum(r.n * o.w) AS BIGINT) AS density
         |FROM r CROSS JOIN o
         |WHERE r.px + o.dx BETWEEN 0 AND 179
         |  AND r.py + o.dy BETWEEN 0 AND 89
         |GROUP BY 1, 2 ORDER BY cx, cy""".stripMargin,
    "q9z_huff_alloc" ->
      // brute in-range pairs + the same quantized-weight floor-share chain
      s"""WITH d AS (SELECT c_custkey AS id,
         |  ${Derive.lonSql("c_custkey")} AS x, ${Derive.latSql("c_custkey")} AS y,
         |  (c_custkey % 97) + 1 AS pop FROM customer),
         |s AS (SELECT s_suppkey AS sid,
         |  ${Derive.lonSql("s_suppkey")} AS x, ${Derive.latSql("s_suppkey")} AS y,
         |  ((s_suppkey % 13) + 1) * 1000 AS cap FROM supplier),
         |p AS (SELECT d.id, s.sid,
         |    (s.cap * 1000000) // (((d.x-s.x)*(d.x-s.x)+(d.y-s.y)*(d.y-s.y))
         |      // 1000000000000 + 1) AS w,
         |    d.pop
         |  FROM d, s
         |  WHERE (d.x-s.x)*(d.x-s.x)+(d.y-s.y)*(d.y-s.y) <= 225000000000000),
         |dn AS (SELECT id, sum(w) AS wsum FROM p GROUP BY id),
         |al AS (SELECT p.sid,
         |    CASE WHEN dn.wsum > 0 THEN (p.pop * p.w) // dn.wsum ELSE 0 END AS a
         |  FROM p JOIN dn ON p.id = dn.id),
         |t AS (SELECT sid, sum(a) AS ta, count(*) AS nd FROM al GROUP BY sid)
         |SELECT s.sid, CAST(coalesce(t.ta, 0) AS BIGINT) AS total_alloc,
         |  CAST(coalesce(t.nd, 0) AS BIGINT) AS n_demand
         |FROM s LEFT JOIN t ON s.sid = t.sid ORDER BY 1""".stripMargin,
    "q9y_dissolve" ->
      // same star-pair construction + recursive min-label propagation;
      // the len chain is the q9g fixed IEEE double chain
      s"""WITH RECURSIVE segs AS (SELECT o_orderkey AS sid,
         |  ${Derive.lonSql("(o_orderkey % 200)")}
         |    + (o_orderkey // 200) * 300 AS x1,
         |  ${Derive.latSql("(o_orderkey % 200)")}
         |    + ((o_orderkey // 200) * 16807) % 80001 - 40000 AS y1,
         |  ${Derive.lonSql("(o_orderkey % 200)")}
         |    + (o_orderkey // 200 + 1) * 300 AS x2,
         |  ${Derive.latSql("(o_orderkey % 200)")}
         |    + ((o_orderkey // 200 + 1) * 16807) % 80001 - 40000 AS y2
         |  FROM orders WHERE (o_orderkey * 7919) % 11 <> 0),
         |eps AS (SELECT sid, x1 AS ex, y1 AS ey FROM segs
         |  UNION ALL SELECT sid, x2, y2 FROM segs),
         |m AS (SELECT ex, ey, min(sid) AS ida FROM eps GROUP BY ex, ey),
         |pr AS (SELECT m.ida, e.sid AS idb FROM eps e
         |  JOIN m ON e.ex = m.ex AND e.ey = m.ey WHERE e.sid <> m.ida),
         |und AS (SELECT ida, idb FROM pr UNION SELECT idb, ida FROM pr),
         |comp(id, lbl) AS (SELECT sid, sid FROM segs
         |  UNION SELECT u.idb, c.lbl FROM comp c JOIN und u ON u.ida = c.id),
         |clbl AS (SELECT id, min(lbl) AS cl FROM comp GROUP BY id),
         |len AS (SELECT sid, CAST(floor(sqrt(CAST(
         |    (x2-x1)*(x2-x1) + (y2-y1)*(y2-y1) AS DOUBLE))) AS BIGINT) AS len_q
         |  FROM segs)
         |SELECT c.cl AS cluster, CAST(count(*) AS BIGINT) AS n_segments,
         |  CAST(sum(l.len_q) AS BIGINT) AS total_len_q
         |FROM clbl c JOIN len l ON c.id = l.sid
         |GROUP BY c.cl ORDER BY cluster""".stripMargin,
    "q9x_luma_hist" -> {
      // generator replay: every pixel is 50 (bit=0 -> bin 3) or 200
      // (bit=1 -> bin 12); per-image counts follow from popcount(phash)
      import graft.fixtures.Fixtures
      val per = scala.collection.mutable.Map[(Int, Int), (Long, Long, Long, Int, Int)]()
      (0L until 5000L).foreach { i =>
        val (lon, lat) = Fixtures.locOf(i)
        val p = graft.core.PhashLoc.encode(lon, lat)
        val (w, h) = Fixtures.dimsOf(i)
        val bpx = (w / 8).toLong * (h / 8)
        val pc = java.lang.Long.bitCount(p).toLong
        val c200 = pc * bpx; val c50 = (64L - pc) * bpx
        val mx = math.max(c50, c200)
        val coll = c50 * c50 + c200 * c200
        val nz = (if (c50 > 0) 1 else 0) + (if (c200 > 0) 1 else 0)
        val dom = mx * 1000000L / (w.toLong * h)
        val (n, sc, sd, mn, mxn) = per.getOrElse((w, h), (0L, 0L, 0L, 16, 0))
        per((w, h)) = (n + 1, sc + coll, sd + dom,
          math.min(mn, nz), math.max(mxn, nz))
      }
      val vals = per.toSeq.sortBy(_._1).map { case ((w, h), (n, sc, sd, mn, mx)) =>
        s"($w, $h, CAST($n AS BIGINT), CAST($sc AS BIGINT), " +
          s"CAST($sd AS BIGINT), $mn, $mx)"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(w, h, n_images, sum_coll, sum_dom, " +
        "min_nz, max_nz) ORDER BY w, h"
    },
    "q9w_flow_accum" ->
      // same deterministic rule set: window argmin direction + recursive
      // downstream path walk (strictly-decreasing forest ⇒ terminates)
      s"""WITH RECURSIVE pts AS (SELECT
         |  ${Derive.lonSql("(o_orderkey % 37)")}
         |    + (o_orderkey * 48271) % 9000001 - 4500000 AS lon,
         |  ${Derive.latSql("(o_orderkey % 37)")}
         |    + ((o_orderkey + 7) * 16807) % 9000001 - 4500000 AS lat
         |  FROM orders),
         |r AS (SELECT (lon + 180000000) // 2000000 AS cx,
         |    (lat + 90000000) // 2000000 AS cy, count(*) AS n
         |  FROM pts GROUP BY 1, 2),
         |o(dx, dy, idx) AS (VALUES (-1,-1,0),(-1,0,1),(-1,1,2),(0,-1,3),
         |  (0,1,5),(1,-1,6),(1,0,7),(1,1,8)),
         |cand AS (SELECT a.cx, a.cy, b.cx AS nx, b.cy AS ny, b.n AS nn, o.idx
         |  FROM r a CROSS JOIN o JOIN r b
         |    ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
         |  WHERE b.n < a.n),
         |flow AS (SELECT cx, cy, nx, ny FROM (SELECT *, row_number() OVER (
         |    PARTITION BY cx, cy ORDER BY nn, idx) AS rn FROM cand)
         |  WHERE rn = 1),
         |paths(s, cur) AS (
         |  SELECT cx * 1073741824 + cy, cx * 1073741824 + cy FROM r
         |  UNION ALL SELECT p.s, f.nx * 1073741824 + f.ny
         |  FROM paths p JOIN flow f ON p.cur = f.cx * 1073741824 + f.cy),
         |acc AS (SELECT cur, count(*) AS acc FROM paths GROUP BY cur)
         |SELECT r.cx, r.cy, r.n,
         |  CAST(coalesce(f.nx, -1) AS BIGINT) AS tcx,
         |  CAST(coalesce(f.ny, -1) AS BIGINT) AS tcy,
         |  CAST(CASE WHEN f.cx IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_pit,
         |  a.acc
         |FROM r LEFT JOIN flow f ON f.cx = r.cx AND f.cy = r.cy
         |JOIN acc a ON a.cur = r.cx * 1073741824 + r.cy
         |ORDER BY r.cx, r.cy""".stripMargin,
    "q9v_access_2sfca" ->
      // brute in-range pairs + the same integer floor-div ratio chain;
      // // is floor in DuckDB, div trunc in Spark — operands non-negative
      s"""WITH d AS (SELECT c_custkey AS id,
         |  ${Derive.lonSql("c_custkey")} AS x, ${Derive.latSql("c_custkey")} AS y,
         |  (c_custkey % 97) + 1 AS pop FROM customer),
         |s AS (SELECT s_suppkey AS sid,
         |  ${Derive.lonSql("s_suppkey")} AS x, ${Derive.latSql("s_suppkey")} AS y,
         |  ((s_suppkey % 13) + 1) * 1000 AS cap FROM supplier),
         |p AS (SELECT d.id, s.sid FROM d, s
         |  WHERE (d.x-s.x)*(d.x-s.x)+(d.y-s.y)*(d.y-s.y) <= 225000000000000),
         |r AS (SELECT p.sid, CASE WHEN sum(d.pop) > 0
         |    THEN (any_value(s.cap) * 1000000) // sum(d.pop) ELSE 0 END AS r_fp
         |  FROM p JOIN d ON p.id = d.id JOIN s ON p.sid = s.sid GROUP BY p.sid),
         |a AS (SELECT p.id, sum(r.r_fp) AS acc, count(*) AS ns
         |  FROM p JOIN r ON p.sid = r.sid GROUP BY p.id)
         |SELECT d.id, CAST(coalesce(a.acc, 0) AS BIGINT) AS access_fp,
         |  CAST(coalesce(a.ns, 0) AS BIGINT) AS n_sites
         |FROM d LEFT JOIN a ON d.id = a.id ORDER BY 1""".stripMargin,
    "q9a_areal_interp" ->
      // closed-form rect overlap + the same integer floor share
      s"""WITH f AS (SELECT c_custkey,
         |  ${Derive.lonSql("c_custkey")} - (c_custkey * 6101) % 1500001 AS flo,
         |  ${Derive.latSql("c_custkey")} - (c_custkey * 9203) % 1500001 AS fla,
         |  ${Derive.lonSql("c_custkey")} + (c_custkey * 6101) % 1500001 AS fhi,
         |  ${Derive.latSql("c_custkey")} + (c_custkey * 9203) % 1500001 AS fha,
         |  c_custkey % 1000 AS v
         |  FROM customer),
         |o AS (SELECT r.poly_id, f.v,
         |    LEAST(f.fhi, r.lon_max) - GREATEST(f.flo, r.lon_min) AS w,
         |    LEAST(f.fha, r.lat_max) - GREATEST(f.fla, r.lat_min) AS h,
         |    (f.fhi - f.flo) * (f.fha - f.fla) AS fa
         |  FROM f CROSS JOIN ${Derive.rectsSqlValues})
         |SELECT poly_id, count(*) AS n_sources,
         |  CAST(sum((v * (w * h)) // fa) AS BIGINT) AS est_value
         |FROM o WHERE w > 0 AND h > 0
         |GROUP BY poly_id ORDER BY poly_id""".stripMargin,
    "q9b_convoys" ->
      // brute same-bin self-join → distinct together-bins → gaps-and-islands
      s"""WITH f AS (SELECT user_id AS ent,
         |  epoch_us(ts) - 1704067200000000 AS dt,
         |  ${Derive.lonSql("(user_id % 13)")}
         |    + (event_id * 48271) % 600001 - 300000 AS lon,
         |  ${Derive.latSql("(user_id % 13)")}
         |    + ((event_id + 7) * 16807) % 600001 - 300000 AS lat
         |  FROM events),
         |e AS MATERIALIZED (SELECT ent, dt // 259200000000 AS b, lon, lat
         |  FROM f WHERE dt >= 0 AND dt < ${259200000000L * 10L}),
         |t AS MATERIALIZED (SELECT DISTINCT a.ent AS ea, b.ent AS eb,
         |  a.b AS bin FROM e a JOIN e b ON a.b = b.b AND a.ent < b.ent
         |  AND (b.lon - a.lon) * (b.lon - a.lon)
         |    + (b.lat - a.lat) * (b.lat - a.lat) <= ${200000L * 200000L}),
         |r AS (SELECT ea, eb, bin, bin - row_number()
         |  OVER (PARTITION BY ea, eb ORDER BY bin) AS isl FROM t),
         |g AS (SELECT ea, eb, isl, count(*) AS run FROM r GROUP BY 1, 2, 3)
         |SELECT ea AS ent_a, eb AS ent_b,
         |  CAST(sum(run) AS BIGINT) AS bins_together,
         |  CAST(max(run) AS BIGINT) AS max_run
         |FROM g GROUP BY 1, 2 HAVING max(run) >= 3 ORDER BY 1, 2""".stripMargin,
    "q82_trips" -> tripsOracleSql,
    // the STREAMING sessionization must equal the batch operator over the
    // real fixes — same twin, by construction
    "q85_stream_trips" -> tripsOracleSql,
    "q83_sssp" -> {
      // H chained Bellman-Ford relaxation CTEs: d_k = min over (d_{k-1} ∪
      // one-edge extensions of d_{k-1}) — each CTE is the exact invariant
      // dist_k, so d8 equals the engine's 8-round (early-exit-stable) run.
      val rounds = (1 to 8).map { k =>
        s"""d$k AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
           |  SELECT node, dist FROM d${k - 1} UNION ALL
           |  SELECT e.dst AS node, d${k - 1}.dist + e.w AS dist
           |  FROM d${k - 1} JOIN e ON d${k - 1}.node = e.src) GROUP BY node)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT o_orderkey % 500 AS src,
         |  (o_orderkey // 500 + o_orderkey * 7919 + 13) % 500 AS dst,
         |  o_orderkey % 997 + 1 AS w FROM orders),
         |d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
         |$rounds
         |SELECT node, dist FROM d8 ORDER BY node""".stripMargin
    },
    "q84_triangles" ->
      // canonical a<b edges; triangle {x<y<z} counted once via
      // (x,y)⋈(y,z)⋈(x,z) — the orientation trick is plan-side only,
      // the counted set is identical
      """WITH raw AS (SELECT
        |  least(o_orderkey % 300, (o_orderkey // 300 + o_orderkey * 7919) % 300) AS a,
        |  greatest(o_orderkey % 300, (o_orderkey // 300 + o_orderkey * 7919) % 300) AS b
        |  FROM orders),
        |e AS (SELECT DISTINCT a, b FROM raw WHERE a <> b)
        |SELECT count(*) AS triangles FROM e e1
        |JOIN e e2 ON e1.b = e2.a
        |JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,
    "q80_iceberg_rename" ->
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lon_micro,
         |  CASE WHEN c_custkey % 4 = 3 THEN ${Derive.latSql("c_custkey")}
         |       ELSE NULL END AS latm
         |FROM customer ORDER BY c_custkey""".stripMargin,
    "q7z_simplify" -> {
      // the fixed IEEE point-to-segment chain (q7t), inlined per reference
      // so the recursive term stays one LATERAL scan; strict tie rule =
      // ORDER BY d2q DESC, idx ASC LIMIT 1, split iff d2q > eps²
      def d(v: String) = s"CAST($v AS DOUBLE)"
      val len2 = s"(${d("b.x - a.x")} * ${d("b.x - a.x")} + ${d("b.y - a.y")} * ${d("b.y - a.y")})"
      val dot = s"(${d("m.x - a.x")} * ${d("b.x - a.x")} + ${d("m.y - a.y")} * ${d("b.y - a.y")})"
      val t = s"(CASE WHEN $len2 = 0.0 THEN 0.0 ELSE LEAST(GREATEST($dot / $len2, 0.0), 1.0) END)"
      val ex = s"(${d("m.x - a.x")} - $t * ${d("b.x - a.x")})"
      val ey = s"(${d("m.y - a.y")} - $t * ${d("b.y - a.y")})"
      s"""WITH RECURSIVE p AS (SELECT (c_custkey - 1) // 10 AS doc,
         |    (c_custkey - 1) % 10 AS idx,
         |    ((c_custkey - 1) % 10) * 1000000 AS x,
         |    (c_custkey * 2654435761) % 10000001 - 5000000 AS y
         |  FROM customer),
         |iv(doc, i, j) AS (
         |  SELECT doc, min(idx), max(idx) FROM p GROUP BY doc
         |  UNION ALL
         |  SELECT iv.doc, CASE WHEN s.b = 0 THEN iv.i ELSE q.k END,
         |    CASE WHEN s.b = 0 THEN q.k ELSE iv.j END
         |  FROM iv JOIN LATERAL (
         |    SELECT m.idx AS k, CAST(floor($ex * $ex + $ey * $ey) AS BIGINT) AS d2q
         |    FROM p m, p a, p b
         |    WHERE m.doc = iv.doc AND a.doc = iv.doc AND b.doc = iv.doc
         |      AND a.idx = iv.i AND b.idx = iv.j AND m.idx > iv.i AND m.idx < iv.j
         |    ORDER BY d2q DESC, m.idx ASC LIMIT 1
         |  ) q ON q.d2q > ${1200000L * 1200000L}
         |  CROSS JOIN (VALUES (0), (1)) s(b)),
         |kept AS (SELECT DISTINCT doc, idx FROM
         |  (SELECT doc, i AS idx FROM iv UNION ALL SELECT doc, j AS idx FROM iv) u)
         |SELECT doc AS doc_id, idx, x, y FROM kept JOIN p USING (doc, idx)
         |ORDER BY doc_id, idx""".stripMargin
    },
    "q7y_polygonize" ->
      s"""WITH RECURSIVE pts AS (SELECT ${Derive.lonSql("o_orderkey")} + 180000000 AS wx,
         |    ${Derive.latSql("o_orderkey")} + 90000000 AS wy FROM orders),
         |c AS (SELECT wx // 4000000 AS px, wy // 4000000 AS py, count(*) AS n
         |  FROM pts GROUP BY 1, 2),
         |m AS (SELECT px, py, n, px * 1073741824 + py AS k FROM c WHERE n >= 4),
         |e AS (SELECT a.k AS src, b.k AS dst FROM m a JOIN m b
         |  ON (b.px = a.px + 1 AND b.py = a.py) OR (b.px = a.px AND b.py = a.py + 1)),
         |eu AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
         |comp(k, lbl) AS (SELECT k, k FROM m
         |  UNION SELECT eu.dst, c.lbl FROM comp c JOIN eu ON eu.src = c.k),
         |lbl AS (SELECT k, min(lbl) AS l FROM comp GROUP BY k)
         |SELECT l // 1073741824 AS rx, l % 1073741824 AS ry,
         |  count(*) AS n_cells, CAST(sum(n) AS BIGINT) AS total_points,
         |  min(px) AS cx_min, max(px) AS cx_max,
         |  min(py) AS cy_min, max(py) AS cy_max
         |FROM m JOIN lbl USING (k)
         |GROUP BY l ORDER BY rx, ry""".stripMargin,
    "q7x_seg_intersect" ->
      s"""WITH a AS (SELECT CAST(p_partkey AS BIGINT) AS a_id,
         |    ${Derive.lonSql("p_partkey")} AS ax1, ${Derive.latSql("p_partkey")} AS ay1,
         |    ${Derive.lonSql("p_partkey")} + (p_partkey * 7919) % 20000001 - 10000000 AS ax2,
         |    ${Derive.latSql("p_partkey")} + (p_partkey * 104729) % 20000001 - 10000000 AS ay2
         |  FROM part),
         |b AS (SELECT CAST(c_custkey AS BIGINT) AS b_id,
         |    ${Derive.lonSql("c_custkey")} AS bx1, ${Derive.latSql("c_custkey")} AS by1,
         |    ${Derive.lonSql("c_custkey")} + (c_custkey * 40503) % 20000001 - 10000000 AS bx2,
         |    ${Derive.latSql("c_custkey")} + (c_custkey * 65537) % 20000001 - 10000000 AS by2
         |  FROM customer),
         |x AS (SELECT *,
         |    (ax2 - ax1) * (by1 - ay1) - (ay2 - ay1) * (bx1 - ax1) AS c1,
         |    (ax2 - ax1) * (by2 - ay1) - (ay2 - ay1) * (bx2 - ax1) AS c2,
         |    (bx2 - bx1) * (ay1 - by1) - (by2 - by1) * (ax1 - bx1) AS c3,
         |    (bx2 - bx1) * (ay2 - by1) - (by2 - by1) * (ax2 - bx1) AS c4
         |  FROM a CROSS JOIN b),
         |g AS (SELECT *,
         |    CASE WHEN c1 > 0 THEN 1 WHEN c1 < 0 THEN -1 ELSE 0 END AS d1,
         |    CASE WHEN c2 > 0 THEN 1 WHEN c2 < 0 THEN -1 ELSE 0 END AS d2,
         |    CASE WHEN c3 > 0 THEN 1 WHEN c3 < 0 THEN -1 ELSE 0 END AS d3,
         |    CASE WHEN c4 > 0 THEN 1 WHEN c4 < 0 THEN -1 ELSE 0 END AS d4
         |  FROM x),
         |p AS (SELECT *, (d1 * d2 < 0 AND d3 * d4 < 0) AS proper,
         |    ((d1 = 0 AND bx1 BETWEEN LEAST(ax1, ax2) AND GREATEST(ax1, ax2)
         |              AND by1 BETWEEN LEAST(ay1, ay2) AND GREATEST(ay1, ay2))
         |  OR (d2 = 0 AND bx2 BETWEEN LEAST(ax1, ax2) AND GREATEST(ax1, ax2)
         |              AND by2 BETWEEN LEAST(ay1, ay2) AND GREATEST(ay1, ay2))
         |  OR (d3 = 0 AND ax1 BETWEEN LEAST(bx1, bx2) AND GREATEST(bx1, bx2)
         |              AND ay1 BETWEEN LEAST(by1, by2) AND GREATEST(by1, by2))
         |  OR (d4 = 0 AND ax2 BETWEEN LEAST(bx1, bx2) AND GREATEST(bx1, bx2)
         |              AND ay2 BETWEEN LEAST(by1, by2) AND GREATEST(by1, by2))) AS touches
         |  FROM g),
         |t AS (SELECT *, CAST((bx1 - ax1) * (by2 - by1) - (by1 - ay1) * (bx2 - bx1) AS DOUBLE)
         |      / CAST((ax2 - ax1) * (by2 - by1) - (ay2 - ay1) * (bx2 - bx1) AS DOUBLE) AS tt
         |  FROM p WHERE proper OR touches)
         |SELECT a_id, b_id, proper,
         |  CASE WHEN proper THEN CAST(floor(CAST(ax1 AS DOUBLE) + tt * CAST(ax2 - ax1 AS DOUBLE)) AS BIGINT) ELSE 0 END AS ix,
         |  CASE WHEN proper THEN CAST(floor(CAST(ay1 AS DOUBLE) + tt * CAST(ay2 - ay1 AS DOUBLE)) AS BIGINT) ELSE 0 END AS iy
         |FROM t ORDER BY a_id, b_id""".stripMargin,
    "q7s_cdc_mirror" ->
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm
         |FROM customer
         |WHERE c_custkey % 2 = 1
         |   OR (c_custkey % 2 = 0 AND c_custkey % 10 <> 2)
         |ORDER BY c_custkey""".stripMargin,
    "q7r_union_area" ->
      s"""WITH f AS (SELECT
         |  ${Derive.lonSql("c_custkey")} - (c_custkey * 6101) % 1500001 AS flo,
         |  ${Derive.latSql("c_custkey")} - (c_custkey * 9203) % 1500001 AS fla,
         |  ${Derive.lonSql("c_custkey")} + (c_custkey * 6101) % 1500001 AS fhi,
         |  ${Derive.latSql("c_custkey")} + (c_custkey * 9203) % 1500001 AS fha
         |  FROM customer),
         |p AS (SELECT r.poly_id,
         |    GREATEST(f.flo, r.lon_min) AS xlo, GREATEST(f.fla, r.lat_min) AS ylo,
         |    LEAST(f.fhi, r.lon_max) AS xhi, LEAST(f.fha, r.lat_max) AS yhi
         |  FROM f JOIN ${Derive.rectsSqlValues}
         |  ON f.flo < r.lon_max AND f.fhi > r.lon_min
         |  AND f.fla < r.lat_max AND f.fha > r.lat_min),
         |xs AS (SELECT DISTINCT poly_id, x FROM
         |  (SELECT poly_id, xlo AS x FROM p UNION ALL SELECT poly_id, xhi FROM p)),
         |strips AS (SELECT poly_id, x AS x0,
         |    lead(x) OVER (PARTITION BY poly_id ORDER BY x) AS x1 FROM xs),
         |cover AS (SELECT s.poly_id, s.x0, s.x1, p.ylo, p.yhi
         |  FROM strips s JOIN p ON p.poly_id = s.poly_id
         |  AND p.xlo <= s.x0 AND p.xhi >= s.x1 WHERE s.x1 IS NOT NULL),
         |marked AS (SELECT *, CASE WHEN ylo > coalesce(max(yhi) OVER
         |    (PARTITION BY poly_id, x0 ORDER BY ylo, yhi
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), ylo - 1)
         |  THEN 1 ELSE 0 END AS ni FROM cover),
         |grp AS (SELECT *, sum(ni) OVER
         |    (PARTITION BY poly_id, x0 ORDER BY ylo, yhi) AS g FROM marked),
         |isl AS (SELECT poly_id, x0, min(x1) AS x1, g,
         |    min(ylo) AS lo, max(yhi) AS hi
         |  FROM grp GROUP BY poly_id, x0, g)
         |SELECT poly_id, CAST(sum((x1 - x0) * (hi - lo)) AS BIGINT) AS union_area
         |FROM isl GROUP BY poly_id ORDER BY poly_id""".stripMargin,
    "q7t_map_match" ->
      s"""WITH p AS (SELECT CAST(c_custkey AS BIGINT) AS qid,
         |    ${Derive.lonSql("c_custkey")} AS px, ${Derive.latSql("c_custkey")} AS py
         |  FROM customer),
         |s AS (SELECT CAST(o_orderkey AS BIGINT) AS sid,
         |    ${Derive.lonSql("o_orderkey")} AS x1, ${Derive.latSql("o_orderkey")} AS y1,
         |    ${Derive.lonSql("o_orderkey")} + (o_orderkey * 7919) % 2000001 - 1000000 AS x2,
         |    ${Derive.latSql("o_orderkey")} + (o_orderkey * 104729) % 2000001 - 1000000 AS y2
         |  FROM orders),
         |d AS (SELECT qid, sid,
         |    CAST(px - x1 AS DOUBLE) AS wx, CAST(py - y1 AS DOUBLE) AS wy,
         |    CAST(x2 - x1 AS DOUBLE) AS dx, CAST(y2 - y1 AS DOUBLE) AS dy,
         |    CAST(x1 AS DOUBLE) AS x1d, CAST(y1 AS DOUBLE) AS y1d
         |  FROM p CROSS JOIN s),
         |t AS (SELECT qid, sid, x1d, y1d, dx, dy, wx, wy,
         |    CASE WHEN dx * dx + dy * dy = 0.0 THEN 0.0
         |         ELSE LEAST(GREATEST((wx * dx + wy * dy) / (dx * dx + dy * dy), 0.0), 1.0)
         |    END AS t
         |  FROM d),
         |e AS (SELECT qid, sid,
         |    CAST(floor((wx - t * dx) * (wx - t * dx) + (wy - t * dy) * (wy - t * dy)) AS BIGINT) AS snap_d2q,
         |    CAST(floor(x1d + t * dx) AS BIGINT) AS snap_x,
         |    CAST(floor(y1d + t * dy) AS BIGINT) AS snap_y
         |  FROM t),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY snap_d2q, sid) AS rn
         |  FROM e WHERE snap_d2q <= ${1500000L * 1500000L})
         |SELECT qid, sid AS seg_id, snap_d2q, snap_x, snap_y
         |FROM r WHERE rn = 1 ORDER BY qid""".stripMargin,
    "q7v_idw_grid" ->
      s"""WITH p AS (SELECT ${Derive.lonSql("c_custkey")} + 180000000 AS wx,
         |    ${Derive.latSql("c_custkey")} + 90000000 AS wy,
         |    c_custkey % 1000 AS v FROM customer),
         |grid AS (SELECT g1.range AS cx, g2.range AS cy
         |  FROM range(0, ${360000000L / 4000000L}) g1, range(0, ${180000000L / 4000000L}) g2),
         |j AS (SELECT grid.cx, grid.cy, p.v,
         |    (p.wx - (grid.cx * 4000000 + 2000000)) * (p.wx - (grid.cx * 4000000 + 2000000))
         |    + (p.wy - (grid.cy * 4000000 + 2000000)) * (p.wy - (grid.cy * 4000000 + 2000000)) AS d2
         |  FROM grid JOIN p ON
         |    (p.wx - (grid.cx * 4000000 + 2000000)) * (p.wx - (grid.cx * 4000000 + 2000000))
         |    + (p.wy - (grid.cy * 4000000 + 2000000)) * (p.wy - (grid.cy * 4000000 + 2000000))
         |    <= ${5000000L * 5000000L}),
         |w AS (SELECT cx, cy, v, 1000000000000 // (d2 // 10000 + 1) AS w FROM j)
         |SELECT cx, cy, count(*) AS n_points,
         |  CAST(CAST(sum(w * v) AS BIGINT) // CAST(sum(w) AS BIGINT) AS BIGINT) AS idw_value
         |FROM w GROUP BY cx, cy ORDER BY cx, cy""".stripMargin,
    "q7w_heatmap" ->
      s"""WITH p AS (SELECT ${Derive.lonSql("o_orderkey")} + 180000000 AS wx,
         |    ${Derive.latSql("o_orderkey")} + 90000000 AS wy FROM orders),
         |c AS (SELECT wx // 2000000 AS px, wy // 2000000 AS py, count(*) AS n
         |  FROM p GROUP BY 1, 2),
         |k AS (SELECT * FROM (VALUES (-1, -1, 1), (0, -1, 2), (1, -1, 1),
         |    (-1, 0, 2), (0, 0, 4), (1, 0, 2),
         |    (-1, 1, 1), (0, 1, 2), (1, 1, 1)) t(ox, oy, kw)),
         |e AS (SELECT px + ox AS cx, py + oy AS cy, n * kw AS contrib,
         |    CASE WHEN ox = 0 AND oy = 0 THEN n ELSE 0 END AS rawc
         |  FROM c CROSS JOIN k)
         |SELECT cx, cy, CAST(sum(rawc) AS BIGINT) AS raw,
         |  CAST(sum(contrib) AS BIGINT) AS smoothed
         |FROM e WHERE cx BETWEEN 0 AND ${360000000L / 2000000L - 1}
         |  AND cy BETWEEN 0 AND ${180000000L / 2000000L - 1}
         |GROUP BY cx, cy ORDER BY cx, cy""".stripMargin,
    "q7u_geo_neardup" ->
      s"""WITH d0 AS (SELECT doc_id,
         |    ${Derive.lonSql("(doc_id // 4 * 31 + 7)")} + (doc_id % 4) * 400000 AS lon,
         |    ${Derive.latSql("(doc_id // 4 * 17 + 3)")} + (doc_id % 4) * 300000 AS lat,
         |    xor(${TextOracle.charHash64Sql("CAST(doc_id // 8 AS VARCHAR)")}, doc_id % 8) AS ph
         |  FROM documents)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.ph, b.ph)) AS INTEGER) AS hamming,
         |  (b.lon - a.lon) * (b.lon - a.lon) + (b.lat - a.lat) * (b.lat - a.lat) AS d2
         |FROM d0 a JOIN d0 b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ph, b.ph)) <= 1
         |  AND (b.lon - a.lon) * (b.lon - a.lon) + (b.lat - a.lat) * (b.lat - a.lat)
         |      <= ${2000000L * 2000000L}
         |ORDER BY id_a, id_b""".stripMargin,
    "q7o_raster_tv" -> {
      // exact TV from the bit→block rule: horizontally-adjacent differing
      // bits (k, k+1 same block row) each contribute 150·(h/8) px pairs,
      // vertically-adjacent (k, k+8) contribute 150·(w/8); pixels inside a
      // block are constant, so block boundaries are the ONLY transitions
      import graft.fixtures.Fixtures
      val per = scala.collection.mutable.Map[(Int, Int), (Long, Long, Long, Long)]()
      (0L until 5000L).foreach { i =>
        val (lon, lat) = Fixtures.locOf(i)
        val p = graft.core.PhashLoc.encode(lon, lat)
        val (w, h) = Fixtures.dimsOf(i)
        val hd = java.lang.Long.bitCount((p ^ (p >>> 1)) & 0x7f7f7f7f7f7f7f7fL)
        val vd = java.lang.Long.bitCount((p ^ (p >>> 8)) & 0x00ffffffffffffffL)
        val tv = 150L * (h / 8) * hd + 150L * (w / 8) * vd
        val (n, s0, mn, mx) = per.getOrElse((w, h), (0L, 0L, Long.MaxValue, Long.MinValue))
        per((w, h)) = (n + 1, s0 + tv, math.min(mn, tv), math.max(mx, tv))
      }
      val vals = per.toSeq.sortBy(_._1).map { case ((w, h), (n, s0, mn, mx)) =>
        s"($w, $h, CAST($n AS BIGINT), CAST($s0 AS BIGINT), CAST($mn AS BIGINT), CAST($mx AS BIGINT))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(w, h, n_images, sum_tv, min_tv, max_tv) " +
        "ORDER BY w, h"
    },
    "q7n_incremental_sync" ->
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |  ${Derive.latSql("c_custkey")} AS latm
         |FROM customer ORDER BY c_custkey""".stripMargin,
    "q7m_dbscan" ->
      s"""$dbscanCteSql
         |SELECT id, cluster FROM lbl ORDER BY id""".stripMargin,
    "q7p_dbscan_summary" ->
      s"""$dbscanCteSql
         |SELECT l.cluster, CAST(count(*) AS BIGINT) AS n_pts,
         |  CAST(sum(p.x) AS BIGINT) AS sum_lon, CAST(sum(p.y) AS BIGINT) AS sum_lat,
         |  min(p.x) AS min_lon, max(p.x) AS max_lon,
         |  min(p.y) AS min_lat, max(p.y) AS max_lat
         |FROM lbl l JOIN pts p ON l.id = p.id
         |WHERE l.cluster <> -1
         |GROUP BY l.cluster ORDER BY l.cluster""".stripMargin,
    "q7j_iceberg_history" ->
      s"""WITH c AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ev,
         |  CAST(sum(CASE WHEN c_custkey % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS del
         |  FROM customer)
         |SELECT 1 AS version, ev AS data_rows, CAST(0 AS BIGINT) AS delete_rows FROM c
         |UNION ALL SELECT 2, n, CAST(0 AS BIGINT) FROM c
         |UNION ALL SELECT 3, n, del FROM c
         |UNION ALL SELECT 4, n - del, CAST(0 AS BIGINT) FROM c
         |ORDER BY version""".stripMargin,
    "q7i_iceberg_pos_delete" ->
      s"""WITH merged AS (
         |  SELECT c_custkey FROM customer WHERE c_custkey % 7 <> 2
         |  UNION ALL
         |  SELECT c_custkey FROM customer
         |  WHERE c_custkey % 7 = 2 AND c_custkey % 2 = 0)
         |SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm
         |FROM merged WHERE c_custkey % 10 <> 5 ORDER BY c_custkey""".stripMargin,
    "q7h_iceberg_branch" ->
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm
         |FROM customer ORDER BY c_custkey""".stripMargin,
    "q7c_iceberg_cdc" ->
      s"""WITH ev AS (SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |  'insert' AS _change_type FROM customer WHERE c_custkey % 2 = 1
         |  UNION ALL
         |  SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |  'delete' AS _change_type FROM customer WHERE c_custkey % 10 = 3)
         |SELECT * FROM ev ORDER BY c_custkey, _change_type""".stripMargin,
    "q0n_iceberg_merge" ->
      s"""WITH base AS (SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |  ${Derive.latSql("c_custkey")} AS latm FROM customer),
         |merged AS (
         |  SELECT c_custkey, lonm, latm FROM base WHERE NOT c_custkey % 7 = 0
         |  UNION ALL SELECT c_custkey, lonm + 1000, latm FROM base WHERE c_custkey % 7 = 0
         |  UNION ALL SELECT c_custkey + 1000000, lonm, latm FROM base WHERE c_custkey % 11 = 0)
         |SELECT c_custkey, lonm, latm FROM merged ORDER BY c_custkey""".stripMargin,
    "q0a_radius_join" ->
      s"""WITH q AS (SELECT CAST(n_nationkey AS BIGINT) AS qid, ${Derive.lonSql("n_nationkey")} AS qlon,
         |  ${Derive.latSql("n_nationkey")} AS qlat FROM nation),
         |c AS (SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS plon,
         |  ${Derive.latSql("c_custkey")} AS plat FROM customer)
         |SELECT q.qid, c.c_custkey AS neighbor_id,
         |  (c.plon - q.qlon) * (c.plon - q.qlon) + (c.plat - q.qlat) * (c.plat - q.qlat) AS d2
         |FROM q CROSS JOIN c
         |WHERE (c.plon - q.qlon) * (c.plon - q.qlon) + (c.plat - q.qlat) * (c.plat - q.qlat)
         |      <= ${15000000L * 15000000L}
         |ORDER BY qid, neighbor_id""".stripMargin,
    "q06_knn" ->
      s"""WITH q AS (SELECT CAST(n_nationkey AS BIGINT) AS qid, ${Derive.lonSql("n_nationkey")} AS qlon,
         |  ${Derive.latSql("n_nationkey")} AS qlat FROM nation),
         |c AS (SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS plon,
         |  ${Derive.latSql("c_custkey")} AS plat FROM customer),
         |d AS (SELECT q.qid, c.c_custkey AS neighbor_id,
         |  (c.plon - q.qlon) * (c.plon - q.qlon) + (c.plat - q.qlat) * (c.plat - q.qlat) AS d2
         |  FROM q CROSS JOIN c),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d2, neighbor_id) AS rank FROM d)
         |SELECT qid, neighbor_id, rank, d2 FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "q0g_radius_join_df" ->
      s"""WITH q AS (SELECT CAST(s_suppkey AS BIGINT) AS qid, ${Derive.lonSql("s_suppkey")} AS qlon,
         |  ${Derive.latSql("s_suppkey")} AS qlat FROM supplier),
         |c AS (SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS plon,
         |  ${Derive.latSql("c_custkey")} AS plat FROM customer)
         |SELECT q.qid, c.c_custkey AS neighbor_id,
         |  (c.plon - q.qlon) * (c.plon - q.qlon) + (c.plat - q.qlat) * (c.plat - q.qlat) AS d2
         |FROM q CROSS JOIN c
         |WHERE (c.plon - q.qlon) * (c.plon - q.qlon) + (c.plat - q.qlat) * (c.plat - q.qlat)
         |      <= ${15000000L * 15000000L}
         |ORDER BY qid, neighbor_id""".stripMargin,
    "q0e_knn_df" ->
      s"""WITH q AS (SELECT CAST(s_suppkey AS BIGINT) AS qid, ${Derive.lonSql("s_suppkey")} AS qlon,
         |  ${Derive.latSql("s_suppkey")} AS qlat FROM supplier),
         |c AS (SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS plon,
         |  ${Derive.latSql("c_custkey")} AS plat FROM customer),
         |d AS (SELECT q.qid, c.c_custkey AS neighbor_id,
         |  (c.plon - q.qlon) * (c.plon - q.qlon) + (c.plat - q.qlat) * (c.plat - q.qlat) AS d2
         |  FROM q CROSS JOIN c),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d2, neighbor_id) AS rank FROM d)
         |SELECT qid, neighbor_id, rank, d2 FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "q05_aoi_bbox" ->
      s"""SELECT c_custkey FROM customer
         |WHERE ${Derive.lonSql("c_custkey")} BETWEEN 40000000 AND 80000000
         |AND ${Derive.latSql("c_custkey")} BETWEEN 0 AND 40000000
         |ORDER BY c_custkey""".stripMargin,
    "q0j_aoi_seam" ->
      s"""SELECT c_custkey FROM customer
         |WHERE (${Derive.lonSql("c_custkey")} >= 165000000 OR ${Derive.lonSql("c_custkey")} <= -165000000)
         |AND ${Derive.latSql("c_custkey")} BETWEEN 0 AND 40000000
         |ORDER BY c_custkey""".stripMargin,
    "q0k_seam_join" ->
      s"""SELECT c.c_custkey AS c_custkey, 's0' AS poly_id FROM customer c
         |WHERE (${Derive.lonSql("c.c_custkey")} BETWEEN 165000000 AND 180000000
         |       OR ${Derive.lonSql("c.c_custkey")} BETWEEN -180000000 AND -165000000)
         |AND ${Derive.latSql("c.c_custkey")} BETWEEN -30000000 AND 10000000
         |ORDER BY c_custkey""".stripMargin,
    "q10_count_nested" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt FROM lineitem
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q11_sum" ->
      """SELECT l_returnflag, CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_avg" ->
      """SELECT l_returnflag,
        |CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) / count(l_quantity) AS avg_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q13_weighted_avg" ->
      """SELECT l_returnflag,
        |CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(27,6))) AS DOUBLE)
        | / CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS wavg_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q14_uniq" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority AS priority FROM orders
        |ORDER BY o_orderstatus, priority""".stripMargin,
    "q15_count_uniq" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts FROM lineitem
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q16_zerofill_month" ->
      """WITH fo AS (SELECT * FROM orders WHERE o_orderkey % 97 = 0),
        |b AS (SELECT date_trunc('month', min(o_orderdate)) AS lo,
        |             date_trunc('month', max(o_orderdate)) AS hi FROM fo),
        |d AS (SELECT strftime(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)), '%Y-%m-%d %H:%M:%S') AS month FROM b),
        |c AS (SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d %H:%M:%S') AS month,
        |      count(*) AS cnt FROM fo GROUP BY 1)
        |SELECT d.month AS month, coalesce(c.cnt, 0) AS cnt
        |FROM d LEFT JOIN c USING(month) ORDER BY month""".stripMargin,
    "q23_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |coalesce(l_linestatus, 'ALL') AS l_linestatus, count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q22_quantiles_multi" ->
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.25) AS q25,
        |quantile_cont(l_quantity, 0.5) AS q50, quantile_cont(l_quantity, 0.75) AS q75
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q17_quantiles" ->
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q18_snapshot_asof" -> {
      val snapList = snapTimes.map(t => s"'$t'").mkString("[", ", ", "]")
      s"""WITH snaps AS (SELECT unnest($snapList) AS snap_ts),
         |cand AS (SELECT s.snap_ts AS snap_ts, e.user_id, e.value,
         |  row_number() OVER (PARTITION BY s.snap_ts, e.user_id
         |                     ORDER BY e.ts DESC, e.event_id DESC) AS rn
         |  FROM events e JOIN snaps s ON e.ts <= CAST(s.snap_ts AS TIMESTAMP))
         |SELECT snap_ts, user_id, value AS last_value FROM cand WHERE rn = 1
         |ORDER BY snap_ts, user_id""".stripMargin
    },
    "q33_interval_join" -> {
      val snapList = snapTimes.map(t => s"'$t'").mkString("[", ", ", "]")
      s"""WITH snaps AS (SELECT unnest($snapList) AS snap_ts),
         |iv AS (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         |  CAST(floor(epoch(ts)) AS BIGINT) + (event_id % 7 + 1) * 3600 AS e FROM events)
         |SELECT sn.snap_ts, iv.event_id
         |FROM iv JOIN snaps sn
         |  ON epoch(CAST(sn.snap_ts AS TIMESTAMP)) BETWEEN iv.s AND iv.e
         |ORDER BY snap_ts, event_id""".stripMargin
    },
    // floor(epoch(ts)): Spark's ts.cast(long) TRUNCATES to whole seconds —
    // fractional-second epochs here would disagree on intervals that only
    // touch after truncation (caught at sf0.1: one boundary pair)
    "q35_interval_overlap" ->
      """WITH base AS (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |  CAST(floor(epoch(ts)) AS BIGINT) + (event_id % 7 + 1) * 3600 AS e
        |  FROM events WHERE user_id % 20 = 0),
        |a AS (SELECT event_id AS id_a, s, e FROM base WHERE event_id % 2 = 0),
        |b AS (SELECT event_id AS id_b, s, e FROM base WHERE event_id % 2 = 1)
        |SELECT a.id_a, b.id_b FROM a JOIN b ON a.s <= b.e AND b.s <= a.e
        |ORDER BY id_a, id_b""".stripMargin,
    // floor(epoch(ts)) matches Spark's whole-second ts.cast(long) — a
    // fractional gap of exactly ~1800.x s could otherwise split sessions
    // differently (same truncation hazard the sf0.1 run caught on q35)
    "q20_sessionize" ->
      """WITH g AS (SELECT user_id, ts, event_id,
        |  CASE WHEN floor(epoch(ts)) - floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) > 1800
        |       THEN 1 ELSE 0 END AS gap FROM events),
        |s AS (SELECT user_id, ts,
        |  CAST(sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM g)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  min(ts) AS t_start, max(ts) AS t_end
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin,
    "q21_group_entity" ->
      """SELECT user_id,
        |CAST(count(*) OVER (PARTITION BY user_id) AS INTEGER) AS n_versions,
        |row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version_idx,
        |value
        |FROM events ORDER BY user_id, version_idx""".stripMargin,
    "q30_filter_dsl" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity BETWEEN 10 AND 30 AND NOT l_linestatus = 'F'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q31_filter_dsl_in" ->
      """SELECT o_orderkey FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_orderstatus IS NOT NULL
        |AND o_totalprice >= 100000 ORDER BY o_orderkey""".stripMargin,
    "q32_tag_dictionary" ->
      """WITH d AS (SELECT DISTINCT o_orderpriority AS tag FROM orders WHERE o_orderpriority IS NOT NULL),
        |ids AS (SELECT CAST(row_number() OVER (ORDER BY tag) AS BIGINT) - 1 AS tag_id, tag FROM d)
        |SELECT i.tag_id, i.tag, count(*) AS n_orders
        |FROM orders o JOIN ids i ON o.o_orderpriority = i.tag
        |GROUP BY 1, 2 ORDER BY tag_id""".stripMargin,
    "q40_token_counts" ->
      s"""WITH ${TextOracle.toksCte()}
         |SELECT d.doc_id, CAST(len(t.t) AS INTEGER) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(d.text, '${TextAnalysis.WordPieceRegex}')) AS INTEGER) AS n_wordpieces
         |FROM documents d JOIN toks t ON d.doc_id = t.doc_id ORDER BY d.doc_id""".stripMargin,
    "q41_lang_id" -> {
      val scoreExprs = TextAnalysis.langMarkers.map { case (lang, ws) =>
        "CAST(" + ws.map(w => s"len(list_filter(t, x -> x = '$w'))").mkString(" + ") +
          s" AS INTEGER) AS score_$lang"
      }.mkString(",\n  ")
      val langs = TextAnalysis.langMarkers.map(_._1).sorted
      val caseChain = langs.init.zipWithIndex.map { case (l, i) =>
        val rest = langs.drop(i + 1).map(r => s"score_$r")
        val cmp = if (rest.size == 1) rest.head else s"greatest(${rest.mkString(", ")})"
        s"WHEN score_$l >= $cmp THEN '$l'"
      }.mkString(" ")
      s"""WITH ${TextOracle.toksCte(textExpr = "lower(text)")},
         |sc AS (SELECT doc_id, $scoreExprs FROM toks)
         |SELECT doc_id, ${TextAnalysis.langMarkers.map(m => "score_" + m._1).mkString(", ")},
         |  CASE $caseChain ELSE '${langs.last}' END AS pred_lang
         |FROM sc ORDER BY doc_id""".stripMargin
    },
    "q42_fingerprints" ->
      s"""WITH ${TextOracle.toksCte()},
         |${TextOracle.ngramsCte(3)}
         |SELECT d.doc_id, ${TextOracle.charHashSql("d.text")} AS text_hash,
         |  CASE WHEN len(g) = 0 THEN CAST(-1 AS BIGINT)
         |       ELSE list_min(list_transform(g, s -> ${TextOracle.charHashSql("s")})) END AS min_shingle
         |FROM documents d JOIN ng ON d.doc_id = ng.doc_id ORDER BY d.doc_id""".stripMargin,
    "q43_exact_dedup" ->
      s"""WITH h AS (SELECT doc_id, ${TextOracle.charHash64Sql("text")} AS text_hash FROM documents)
         |SELECT text_hash, min(doc_id) AS canonical_id, count(*) AS n_copies
         |FROM h GROUP BY 1 ORDER BY text_hash""".stripMargin,
    "q44_ngram_jaccard" -> TextOracle.jaccardPairsSql(3, 0.5),
    "q6c_substring_dedup" -> TextOracle.substringSpanStatsSql(8),
    "q6k_segment_dedup" -> TextOracle.segmentDedupSql(8),
    "q6l_lm_train" -> TextOracle.lmTrainSql(2L, "doc_id % 10 < 3"),
    "q6m_lm_score" -> TextOracle.lmScoreSql(2L, "doc_id % 10 < 3", 0.5),
    "q6n_group_cap" -> TextOracle.groupCapSql("source", 20, "q6n"),
    "q6y_importance_resample" -> TextOracle.importanceResampleSql(4096, 2, "doc_id % 7 = 0"),
    "q6o_bloom_new" -> TextOracle.bloomNewSql("c.doc_id % 10 < 8"),
    "q6i_bpe_train" -> TextOracle.bpeTrainSql(8),
    "q6j_bpe_encode" -> TextOracle.bpeEncodeSql(8, 30),
    "q6d_substring_clean" -> TextOracle.substringCleanSql(8),
    "q65_decontaminate" -> TextOracle.decontaminateSql(3, 3, "doc_id % 50 = 0"),
    "q69_cross_dedup" ->
      s"""WITH ${TextOracle.toksCte()},
         |${TextOracle.ngramsCte(3)},
         |nz AS (SELECT doc_id, g FROM ng WHERE len(g) > 0),
         |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  len(list_intersect(a.g, b.g)) AS c, len(a.g) AS sz_a, len(b.g) AS sz_b
         |  FROM nz a JOIN nz b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0)
         |SELECT id_a, id_b, CAST(c AS DOUBLE) / CAST(sz_a + sz_b - c AS DOUBLE) AS jaccard
         |FROM pr WHERE CAST(c AS DOUBLE) / CAST(sz_a + sz_b - c AS DOUBLE) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,
    "q45_minhash_lsh" -> TextOracle.jaccardPairsSql(3, 0.5),
    "q46_simhash" ->
      s"""WITH ${TextOracle.simhash64Ctes}
         |SELECT doc_id, simhash FROM sim ORDER BY doc_id""".stripMargin,
    "q47_simhash_pairs" ->
      s"""WITH ${TextOracle.simhash64Ctes}
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3 ORDER BY id_a, id_b""".stripMargin,
    "q67_phash_neardup" ->
      s"""WITH h AS (SELECT doc_id,
         |  xor(${TextOracle.charHash64Sql("CAST(doc_id // 8 AS VARCHAR)")}, doc_id % 8) AS ph
         |  FROM documents)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.ph, b.ph)) AS INTEGER) AS hamming
         |FROM h a JOIN h b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ph, b.ph)) <= 2 ORDER BY id_a, id_b""".stripMargin,
    "q48_embed_topk" ->
      s"""WITH ${TextOracle.quantCte()},
         |q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
         |d AS (SELECT q.vec_id AS qid, e.vec_id AS nid, ${TextOracle.dotSql("q.q", "e.q", 64)} AS dot
         |      FROM q JOIN e ON e.vec_id <> q.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rank FROM d)
         |SELECT qid, nid, rank, dot FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    "q50_cosine_near_dup" ->
      s"""WITH ${TextOracle.quantCte()},
         |n AS (SELECT vec_id, q, ${TextOracle.dotSql("q", "q", 64)} AS n2 FROM e),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${TextOracle.dotSql("a.q", "b.q", 64)} AS dot,
         |       a.n2 AS na, b.n2 AS nb FROM n a JOIN n b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, dot FROM p
         |WHERE dot > 0 AND CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE) >= 0.45 * 0.45 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
         |ORDER BY id_a, id_b""".stripMargin,
    "q6q_semantic_dedup" -> {
      // the whole pipeline re-derived in SQL: hash-ordered seeds, exact
      // int-L2 nearest-seed assignment (ties → lower seed index), within-
      // cluster cosine prune with the verifyCosine double convention
      val h = TextOracle.charHash64Sql("CAST(vec_id AS VARCHAR)")
      def dot(a: String, b: String) = TextOracle.dotSql(a, b, 64)
      s"""WITH ${TextOracle.quantCte()},
         |n AS (SELECT vec_id, q, ${dot("q", "q")} AS n2 FROM e),
         |sd AS (SELECT vec_id, q FROM e ORDER BY $h, vec_id LIMIT 8),
         |s0 AS (SELECT row_number() OVER (ORDER BY $h, vec_id) - 1 AS j, q AS cq FROM sd),
         |seeds AS (SELECT j, cq, ${dot("cq", "cq")} AS cn2 FROM s0),
         |ar AS (SELECT n.vec_id, n.q, n.n2, s.j,
         |  s.cn2 - 2 * ${dot("n.q", "s.cq")} AS d FROM n CROSS JOIN seeds s),
         |asg AS (SELECT vec_id, q, n2, CAST(j AS INTEGER) AS list_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn FROM ar) z
         |  WHERE rn = 1),
         |dr AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
         |  ON a.list_id = b.list_id AND a.vec_id < b.vec_id
         |  WHERE ${dot("a.q", "b.q")} > 0 AND
         |    CAST(${dot("a.q", "b.q")} AS DOUBLE) * CAST(${dot("a.q", "b.q")} AS DOUBLE) >=
         |    0.45 * 0.45 * CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE))
         |SELECT asg.vec_id, asg.list_id, dr.vec_id IS NULL AS kept
         |FROM asg LEFT JOIN dr ON asg.vec_id = dr.vec_id
         |ORDER BY asg.vec_id""".stripMargin
    },
    "q6r_pack_sequences" -> TextOracle.packSequencesSql(512, "q6r"),
    "q6v_pack_tokens" -> TextOracle.packTokensSql(512, "q6r"),
    "q6s_mixture_sample" -> TextOracle.mixtureSampleSql(
      Map("src0" -> 2500000L, "src1" -> 500000L, "src2" -> 0L,
        "src3" -> 1300000L), 1000000L, "q6s"),
    "q6t_redact_pii" -> TextOracle.redactPiiSql(
      """text || CASE WHEN doc_id % 4 = 0
        |    THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@example.com now'
        |  WHEN doc_id % 4 = 1 THEN ' call 555-123-4567 or 555-000-1234'
        |  WHEN doc_id % 4 = 2
        |    THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 net'
        |  ELSE '' END""".stripMargin),
    "q6u_alignment_filter" -> TextOracle.alignmentFilterSql(0.1, 64),
    "q54_normalize" -> {
      val norm = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
      s"""SELECT doc_id, ${TextOracle.charHashSql(norm)} AS norm_hash,
         |CAST(length($norm) AS INTEGER) AS norm_len
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q55_dedup_keep" -> {
      val norm = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
      s"""WITH k AS (SELECT min(doc_id) AS keep_id FROM documents GROUP BY $norm)
         |SELECT doc_id, lang, n_chars FROM documents
         |WHERE doc_id IN (SELECT keep_id FROM k) ORDER BY doc_id""".stripMargin
    },
    "q59_embed_dedup_keep" ->
      s"""WITH RECURSIVE ${TextOracle.quantCte()},
         |n AS (SELECT vec_id, q, ${TextOracle.dotSql("q", "q", 64)} AS n2 FROM e),
         |pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id
         |  WHERE ${TextOracle.dotSql("a.q", "b.q", 64)} > 0
         |    AND CAST(${TextOracle.dotSql("a.q", "b.q", 64)} AS DOUBLE) * CAST(${TextOracle.dotSql("a.q", "b.q", 64)} AS DOUBLE)
         |        >= 0.45 * 0.45 * CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)),
         |edges AS (SELECT id_a AS s, id_b AS d FROM pr UNION ALL SELECT id_b, id_a FROM pr),
         |reach AS (SELECT s AS id, d AS r FROM edges
         |  UNION SELECT w.id, e.d FROM reach w JOIN edges e ON w.r = e.s),
         |lab AS (SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id NOT IN (SELECT id FROM lab WHERE id <> cluster_id)
         |ORDER BY vec_id""".stripMargin,
    "q57_stratified_sample" -> {
      val bucket = TextOracle.charHashSql("CAST(doc_id AS VARCHAR) || ':sample-v1'") + " % 100"
      s"""SELECT doc_id, lang FROM documents
         |WHERE $bucket < (CASE WHEN lang = 'en' THEN 10 ELSE 30 END)
         |ORDER BY doc_id""".stripMargin
    },
    "q58_dataset_split" -> {
      val bucket = TextOracle.charHashSql("CAST(doc_id AS VARCHAR) || ':split-v1'") + " % 100"
      s"""WITH b AS (SELECT doc_id, $bucket AS bucket FROM documents)
         |SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
         |            ELSE 'test' END AS split,
         |  count(*) AS n, min(doc_id) AS first_id
         |FROM b GROUP BY 1 ORDER BY split""".stripMargin
    },
    "q66_pipeline_e2e" -> {
      val stopList = TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")
      val norm = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
      val bucket = TextOracle.charHashSql("CAST(doc_id AS VARCHAR) || ':split-v1'") + " % 100"
      s"""WITH ${TextOracle.toksCte()},
         |sc AS (SELECT d.doc_id AS doc_id,
         |  CAST(len(t) AS INTEGER) AS n_tokens,
         |  CAST(length(d.text) AS INTEGER) AS n_chars,
         |  CAST(length(regexp_replace(d.text, '[^A-Za-z]', '', 'g')) AS INTEGER) AS n_alpha,
         |  CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS INTEGER) AS n_tok_chars
         |  FROM documents d JOIN toks ON d.doc_id = toks.doc_id),
         |keepers AS (SELECT doc_id FROM sc
         |  WHERE n_tokens >= 10 AND n_tokens <= 100000
         |    AND (CASE WHEN n_tokens > 0 THEN CAST(n_tok_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) BETWEEN 2.0 AND 12.0
         |    AND (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END) >= 0.5),
         |dedup AS (SELECT min(d.doc_id) AS doc_id FROM documents d
         |  JOIN keepers USING (doc_id) GROUP BY $norm),
         |corpus0 AS (SELECT doc_id FROM dedup WHERE doc_id % 50 <> 0),
         |${TextOracle.ngramsCte(3)},
         |b AS (SELECT doc_id AS bench_id, g FROM ng WHERE doc_id % 50 = 0 AND len(g) > 0),
         |c AS (SELECT doc_id, g FROM ng JOIN corpus0 USING (doc_id) WHERE len(g) > 0),
         |cont AS (SELECT DISTINCT c.doc_id FROM c CROSS JOIN b
         |  WHERE len(list_intersect(c.g, b.g)) >= 3),
         |fin AS (SELECT doc_id FROM corpus0 WHERE doc_id NOT IN (SELECT doc_id FROM cont))
         |SELECT d.doc_id, d.lang,
         |  CASE WHEN $bucket < 80 THEN 'train' WHEN $bucket < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents d JOIN fin USING (doc_id) ORDER BY d.doc_id""".stripMargin
    },
    "q56_vocab" ->
      s"""WITH ${TextOracle.toksCte(textExpr = "lower(text)")},
         |e AS (SELECT doc_id, unnest(t) AS token FROM toks)
         |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
         |FROM e GROUP BY token ORDER BY tf DESC, token LIMIT 50""".stripMargin,
    "q52_dup_clusters" ->
      s"""WITH RECURSIVE ${TextOracle.toksCte()},
         |${TextOracle.ngramsCte(3)},
         |nz AS (SELECT doc_id, g FROM ng WHERE len(g) > 0),
         |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM nz a JOIN nz b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |        / CAST(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS DOUBLE) >= 0.5),
         |edges AS (SELECT id_a AS s, id_b AS d FROM pr UNION ALL SELECT id_b, id_a FROM pr),
         |reach AS (
         |  SELECT s AS id, d AS r FROM edges
         |  UNION
         |  SELECT w.id, e.d FROM reach w JOIN edges e ON w.r = e.s
         |)
         |SELECT id AS doc_id, least(id, min(r)) AS cluster_id FROM reach
         |GROUP BY id ORDER BY doc_id""".stripMargin,
    "q6b_leakage_safe_split" -> {
      val bucket = TextOracle.charHashSql(
        "CAST(coalesce(l.cluster_id, d.doc_id) AS VARCHAR) || ':split-v1'") + " % 100"
      s"""WITH RECURSIVE ${TextOracle.toksCte()},
         |${TextOracle.ngramsCte(3)},
         |nz AS (SELECT doc_id, g FROM ng WHERE len(g) > 0),
         |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM nz a JOIN nz b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |        / CAST(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS DOUBLE) >= 0.5),
         |edges AS (SELECT id_a AS s, id_b AS d FROM pr UNION ALL SELECT id_b, id_a FROM pr),
         |reach AS (
         |  SELECT s AS id, d AS r FROM edges
         |  UNION
         |  SELECT w.id, e.d FROM reach w JOIN edges e ON w.r = e.s
         |),
         |lab AS (SELECT id AS doc_id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id)
         |SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id,
         |  CASE WHEN $bucket < 80 THEN 'train' WHEN $bucket < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },
    "q51_quality" -> {
      val stopList = TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH ${TextOracle.toksCte()},
         |sc AS (SELECT d.doc_id AS doc_id, CAST(length(d.text) AS INTEGER) AS n_chars,
         |  CAST(len(t) AS INTEGER) AS n_tokens,
         |  CAST(length(regexp_replace(d.text, '[^A-Za-z]', '', 'g')) AS INTEGER) AS n_alpha,
         |  CAST(len(list_filter(t, x -> x IN ($stopList))) AS INTEGER) AS n_stop,
         |  CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS INTEGER) AS n_tok_chars
         |  FROM documents d JOIN toks ON d.doc_id = toks.doc_id),
         |m AS (SELECT *,
         |  CASE WHEN n_tokens > 0 THEN CAST(n_tok_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS mean_token_len,
         |  CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS alpha_ratio,
         |  CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS stop_ratio
         |  FROM sc)
         |SELECT doc_id, n_chars, n_tokens, n_alpha, n_stop, n_tok_chars, mean_token_len, alpha_ratio, stop_ratio,
         |  (n_tokens >= 10 AND n_tokens <= 100000 AND mean_token_len >= 2.0
         |   AND mean_token_len <= 12.0 AND alpha_ratio >= 0.5) AS keep
         |FROM m ORDER BY doc_id""".stripMargin
    },
    "q61_checkpoint_agg" ->
      """SELECT o_custkey, count(*) AS n_orders FROM orders
        |GROUP BY 1 ORDER BY o_custkey""".stripMargin,
    // generator-rule VALUES: survivors are the 4-vertex rects (polygon
    // class, vertices<=8) and the open relations (GeometryCollection /
    // `other`, total vertices = sum of member way lengths by construction)
    "q6h_geometry_other" -> {
      val rectRows = Derive.rects.map { case (id, _, _, _, _) =>
        (id, "rect", "polygon", 4) }
      val otherRows = Derive.openRels.map { case (id, ways) =>
        (id, "open", "geometrycollection", ways.map(_.length).sum) }
      val vals = (rectRows ++ otherRows).sortBy(_._1).map { case (i, k, t, n) =>
        s"('$i', '$k', '$t', CAST($n AS INTEGER))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(poly_id, kind, geom_type, n_vertices) ORDER BY poly_id"
    },
    // non-distinct bigram counts by STRING grouping (Spark counts the mod-P
    // rolling hash — same ~1e-9 collision trade as the Jaccard oracles);
    // ratios are single divisions of identical exact integers in both engines
    "q68_repetition" ->
      s"""WITH ${TextOracle.toksCte()},
         |bg AS (SELECT doc_id, CASE WHEN len(t) >= 2
         |  THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
         |  ELSE CAST([] AS VARCHAR[]) END AS g FROM toks),
         |st AS (SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams,
         |  CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
         |  CAST(coalesce(list_max(list_transform(list_distinct(g),
         |    x -> len(list_filter(g, y -> y = x)))), 0) AS BIGINT) AS top_cnt FROM bg),
         |m AS (SELECT *,
         |  CASE WHEN n_grams > 0 THEN CAST(n_grams - n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE) ELSE 0.0 END AS dup_frac,
         |  CASE WHEN n_grams > 0 THEN CAST(top_cnt AS DOUBLE) / CAST(n_grams AS DOUBLE) ELSE 0.0 END AS top_frac
         |  FROM st)
         |SELECT doc_id, n_grams, n_distinct, top_cnt, dup_frac, top_frac,
         |  (dup_frac <= 0.05 AND top_frac <= 0.06) AS repetition_keep
         |FROM m ORDER BY doc_id""".stripMargin,
    // rect ∩ tile is closed-form rect algebra: tile bounds at z=8 are exact
    // integers (360e6/256 = 1406250, 180e6/256 = 703125); strict overlap on
    // both axes ⟺ the engine's dim-2 (areal) intersection filter
    "q0d_clip_tiles" ->
      s"""WITH r AS (SELECT * FROM ${Derive.rectsSqlValues}),
         |tx AS (SELECT r.*, unnest(generate_series((r.lon_min + 180000000) // 1406250,
         |                                          (r.lon_max + 180000000) // 1406250)) AS tile_x FROM r),
         |t AS (SELECT tx.*, unnest(generate_series((90000000 - tx.lat_max) // 703125,
         |                                          (90000000 - tx.lat_min) // 703125)) AS tile_y FROM tx),
         |b AS (SELECT *, -180000000 + tile_x * 1406250 AS t_lo,
         |               -180000000 + tile_x * 1406250 + 1406249 AS t_hi,
         |               -90000000 + (255 - tile_y) * 703125 AS t_la,
         |               -90000000 + (255 - tile_y) * 703125 + 703124 AS t_ha FROM t)
         |SELECT poly_id, CAST(8 AS INTEGER) AS tile_z, tile_x, tile_y,
         |  greatest(lon_min, t_lo) AS clip_lon_min, greatest(lat_min, t_la) AS clip_lat_min,
         |  least(lon_max, t_hi) AS clip_lon_max, least(lat_max, t_ha) AS clip_lat_max
         |FROM b
         |WHERE greatest(lon_min, t_lo) < least(lon_max, t_hi)
         |  AND greatest(lat_min, t_la) < least(lat_max, t_ha)
         |ORDER BY poly_id, tile_x, tile_y""".stripMargin,
    "q0i_radius_haversine" ->
      s"""WITH q AS (SELECT CAST(n_nationkey AS BIGINT) AS qid, ${Derive.lonSql("n_nationkey")} AS qlon,
         |  ${Derive.latSql("n_nationkey")} AS qlat FROM nation),
         |c AS (SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS plon,
         |  ${Derive.latSql("c_custkey")} AS plat FROM customer)
         |SELECT q.qid, c.c_custkey AS neighbor_id
         |FROM q CROSS JOIN c
         |WHERE 2 * 6371008.8 * asin(least(1.0, sqrt(
         |    pow(sin((radians(plat / 1000000.0) - radians(qlat / 1000000.0)) / 2), 2)
         |    + cos(radians(qlat / 1000000.0)) * cos(radians(plat / 1000000.0))
         |      * pow(sin((radians(plon / 1000000.0) - radians(qlon / 1000000.0)) / 2), 2)
         |  ))) <= 1500000.0
         |ORDER BY qid, neighbor_id""".stripMargin,
    // sketch bound rows: the oracle recomputes the exact aggregates and
    // asserts the guarantee booleans the Spark side derived from the sketch
    "q24_sketch_quantile" ->
      """SELECT l_returnflag, count(*) AS n_rows, TRUE AS within_bound
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q34_vocab_sketch" ->
      """SELECT l.lang AS grp, CAST(g.r AS BIGINT) AS rank, TRUE AS within_bound
        |FROM (SELECT DISTINCT lang FROM documents) l
        |CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS r) g
        |ORDER BY grp, rank""".stripMargin,
    "q49_ann_lsh" ->
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin,
    "q53_ivf_topk" ->
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin,
    "q6a_ivf_index" ->
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin,
    "q6f_ivf_pq" ->
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin,
    "q71_ivf_sharded" ->
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin,
    "q7a_hnsw" ->
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin,
    "q7b_hnsw_index" ->
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin,
    // batch twin of the streamed quality -> repetition curation chain (the
    // q51 keep gate composed with the q68 repetition gate)
    "q6g_stream_curate" -> {
      val stopList = TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH ${TextOracle.toksCte()},
         |sc AS (SELECT d.doc_id AS doc_id, CAST(length(d.text) AS INTEGER) AS n_chars,
         |  CAST(len(t) AS INTEGER) AS n_tokens,
         |  CAST(length(regexp_replace(d.text, '[^A-Za-z]', '', 'g')) AS INTEGER) AS n_alpha,
         |  CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS INTEGER) AS n_tok_chars
         |  FROM documents d JOIN toks ON d.doc_id = toks.doc_id),
         |qm AS (SELECT doc_id,
         |  (n_tokens >= 10 AND n_tokens <= 100000
         |   AND CASE WHEN n_tokens > 0 THEN CAST(n_tok_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END >= 2.0
         |   AND CASE WHEN n_tokens > 0 THEN CAST(n_tok_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END <= 12.0
         |   AND CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END >= 0.5) AS keep
         |  FROM sc),
         |bg AS (SELECT doc_id, CASE WHEN len(t) >= 2
         |  THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
         |  ELSE CAST([] AS VARCHAR[]) END AS g FROM toks),
         |st AS (SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams,
         |  CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
         |  CAST(coalesce(list_max(list_transform(list_distinct(g),
         |    x -> len(list_filter(g, y -> y = x)))), 0) AS BIGINT) AS top_cnt FROM bg),
         |rm AS (SELECT doc_id, n_grams,
         |  CASE WHEN n_grams > 0 THEN CAST(n_grams - n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE) ELSE 0.0 END AS dup_frac,
         |  CASE WHEN n_grams > 0 THEN CAST(top_cnt AS DOUBLE) / CAST(n_grams AS DOUBLE) ELSE 0.0 END AS top_frac
         |  FROM st)
         |SELECT rm.doc_id, rm.n_grams, rm.dup_frac
         |FROM qm JOIN rm ON qm.doc_id = rm.doc_id
         |WHERE qm.keep AND rm.dup_frac <= 0.05 AND rm.top_frac <= 0.06
         |ORDER BY rm.doc_id""".stripMargin
    },
    "q62_image_meta" -> {
      // per-fmt counts from the generator's fmt RULE (not from running the
      // operator) — the decode-integrity booleans are asserted guarantees
      val counts = (0L until 5000L).groupBy(graft.fixtures.Fixtures.fmtOf)
        .view.mapValues(_.size).toMap
      val vals = counts.toSeq.sortBy(_._1).map { case (f, n) =>
        s"('$f', CAST($n AS BIGINT), CAST(1 AS INTEGER), CAST(1 AS INTEGER))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(fmt, n, all_match, all_psnr_ok) ORDER BY fmt"
    },
    "q6p_image_curate" -> {
      // per-fmt curation report derived from the generator rules alone
      // (locOf → phash, dimsOf → pixels, fmtOf, captionOf → wordpieces);
      // the decode-integrity gates are asserted guarantees like q62's
      import graft.fixtures.Fixtures
      val wpRe = graft.operators.TextAnalysis.WordPieceRegex.r
      // (i, image_id) rows incl. the planted xdup- re-uploads of 0..499
      val rows = (0L until 5000L).flatMap { i =>
        val id = f"img$i%012d"
        if (i < 500) Seq((i, id), (i, s"xdup-$id")) else Seq((i, id))
      }
      val phashOf = (i: Long) => {
        val (lo, la) = Fixtures.locOf(i); graft.core.PhashLoc.encode(lo, la)
      }
      val canonicalIds = rows.groupBy { case (i, _) => phashOf(i) }
        .values.map(g => g.minBy(_._2)).toSet
      val fmts = rows.map { case (i, _) => Fixtures.fmtOf(i) }.distinct.sorted
      val vals = fmts.map { f =>
        val all = rows.filter { case (i, _) => Fixtures.fmtOf(i) == f }
        val canon = all.filter(canonicalIds.contains)
        val kept = canon.filter { case (i, _) =>
          val (w, h) = Fixtures.dimsOf(i); w * h >= 2048
        }
        val wp = kept.map { case (i, _) =>
          wpRe.findAllIn(Fixtures.captionOf(i)).size.toLong
        }.sum
        s"('$f', CAST(${all.size} AS BIGINT), CAST(${canon.size} AS BIGINT), " +
          s"CAST(${all.size - canon.size} AS BIGINT), CAST(${kept.size} AS BIGINT), " +
          s"CAST($wp AS BIGINT), CAST(1 AS INTEGER), CAST(1 AS INTEGER))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(fmt, n_rows, n_canonical, " +
        "n_dups_removed, n_kept_minres, wp_tokens_kept, all_decode_ok, " +
        "all_psnr_ok) ORDER BY fmt"
    },
    "q6z_aspect_bucket" -> {
      // same integer nearest-ratio argmin over the dims generator rule
      import graft.fixtures.Fixtures
      val lcm = AspectBuckets.map(_._2.toLong).reduce { (a, b) =>
        @annotation.tailrec def g(x: Long, y: Long): Long = if (y == 0) x else g(y, x % y)
        a / g(a, b) * b
      }
      val per = scala.collection.mutable.Map[Int, (Long, Long)]()
      (0L until 5000L).foreach { i =>
        val (w, h) = Fixtures.dimsOf(i)
        val ks = AspectBuckets.map { case (tw, th) =>
          math.abs(w.toLong * th - tw.toLong * h) * (lcm / th)
        }
        val b = ks.indexOf(ks.min)
        val (n, p) = per.getOrElse(b, (0L, 0L))
        per(b) = (n + 1, p + w.toLong * h)
      }
      val vals = per.toSeq.sortBy(_._1).map { case (b, (n, p)) =>
        val (tw, th) = AspectBuckets(b)
        s"(CAST($b AS INTEGER), $tw, $th, CAST($n AS BIGINT), CAST($p AS BIGINT))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(bucket_id, bucket_w, bucket_h, " +
        "n_images, total_src_pixels) ORDER BY bucket_id"
    },
    "q6w_zonal_stats" -> {
      // per-zone exact stats from the generator rules alone: location from
      // locOf (phash encode∘decode is the identity), pixel sums from the
      // bit→block rule (bit set = 200, clear = 50, block = (w/8)·(h/8) px),
      // zone containment = inclusive rect test (for axis-aligned rects the
      // boundary-inclusive raycast IS the inclusive bbox test — q01 note)
      import graft.fixtures.Fixtures
      val perZone = scala.collection.mutable.Map[String, (Long, Long, Long)]()
      (0L until 5000L).foreach { i =>
        val (lon, lat) = Fixtures.locOf(i)
        val (w, h) = Fixtures.dimsOf(i)
        val bits = java.lang.Long.bitCount(graft.core.PhashLoc.encode(lon, lat))
        val bs = (w / 8).toLong * (h / 8)
        val sumLuma = bits * 200L * bs + (64L - bits) * 50L * bs
        Derive.rects.foreach { case (pid, lo, la, hi, ha) =>
          if (lon >= lo && lon <= hi && lat >= la && lat <= ha) {
            val (n, p, s0) = perZone.getOrElse(pid, (0L, 0L, 0L))
            perZone(pid) = (n + 1, p + w.toLong * h, s0 + sumLuma)
          }
        }
      }
      val vals = perZone.toSeq.sortBy(_._1).map { case (pid, (n, p, s0)) =>
        s"('$pid', CAST($n AS BIGINT), CAST($p AS BIGINT), CAST($s0 AS BIGINT))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(poly_id, n_images, total_pixels, sum_luma) " +
        "ORDER BY poly_id"
    },
    "q6x_tile_mosaic" -> {
      // per-tile mosaic checksum by LINEARITY: fp(Σ grids) = Σ fp(grid);
      // each image's grid block k = (200|50)·(w/8)·(h/8) from phash bit k,
      // tile = integer equirect floor rule (q02's oracle form) at z=4
      import graft.fixtures.Fixtures
      val perTile = scala.collection.mutable.Map[(Long, Long), (Long, Long, Long)]()
      (0L until 5000L).foreach { i =>
        val (lon, lat) = Fixtures.locOf(i)
        val (w, h) = Fixtures.dimsOf(i)
        val phash = graft.core.PhashLoc.encode(lon, lat)
        val bs = (w / 8).toLong * (h / 8)
        var fp = 0L; var k = 0
        while (k < 64) {
          val v = if (((phash >>> k) & 1L) == 1L) 200L else 50L
          fp += (k + 1) * v * bs
          k += 1
        }
        val tx = Math.floorDiv((lon + 180000000L) * 16L, 360000000L)
        val ty = Math.floorDiv((90000000L - lat) * 16L, 180000000L)
        val (n, p, f0) = perTile.getOrElse((tx, ty), (0L, 0L, 0L))
        perTile((tx, ty)) = (n + 1, p + w.toLong * h, f0 + fp)
      }
      val vals = perTile.toSeq.sortBy(_._1).map { case ((tx, ty), (n, p, f0)) =>
        s"(4, CAST($tx AS BIGINT), CAST($ty AS BIGINT), CAST($n AS BIGINT), " +
          s"CAST($p AS BIGINT), CAST($f0 AS BIGINT))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(tile_z, tile_x, tile_y, n_images, " +
        "total_pixels, mosaic_fp) ORDER BY tile_x, tile_y"
    },
    "q7d_tile_pyramid" -> {
      // both levels by LINEARITY from the generator rule (q6x's form): the
      // z=4 rows are exactly q6x's; the z=3 rows compose the quadrant map —
      // image block (i,j) in child (tx,ty) lands in parent cell
      // ((ty%2·8+i) div 2, (tx%2·8+j) div 2) of tile (tx div 2, ty div 2)
      import graft.fixtures.Fixtures
      val perTile = scala.collection.mutable.Map[(Int, Long, Long), (Long, Long, Long)]()
      (0L until 5000L).foreach { i =>
        val (lon, lat) = Fixtures.locOf(i)
        val (w, h) = Fixtures.dimsOf(i)
        val phash = graft.core.PhashLoc.encode(lon, lat)
        val bs = (w / 8).toLong * (h / 8)
        val tx = Math.floorDiv((lon + 180000000L) * 16L, 360000000L)
        val ty = Math.floorDiv((90000000L - lat) * 16L, 180000000L)
        val oy = (ty % 2).toInt; val ox = (tx % 2).toInt
        var fp4 = 0L; var fp3 = 0L; var k = 0
        while (k < 64) {
          val v = if (((phash >>> k) & 1L) == 1L) 200L else 50L
          fp4 += (k + 1) * v * bs
          val p = ((oy * 8 + k / 8) / 2) * 8 + (ox * 8 + k % 8) / 2
          fp3 += (p + 1) * v * bs
          k += 1
        }
        def add(key: (Int, Long, Long), fp: Long): Unit = {
          val (n, px, f0) = perTile.getOrElse(key, (0L, 0L, 0L))
          perTile(key) = (n + 1, px + w.toLong * h, f0 + fp)
        }
        add((4, tx, ty), fp4)
        add((3, tx / 2, ty / 2), fp3)
      }
      val vals = perTile.toSeq.sortBy(_._1).map { case ((z, tx, ty), (n, p, f0)) =>
        s"($z, CAST($tx AS BIGINT), CAST($ty AS BIGINT), CAST($n AS BIGINT), " +
          s"CAST($p AS BIGINT), CAST($f0 AS BIGINT))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(tile_z, tile_x, tile_y, n_images, " +
        "total_pixels, mosaic_fp) ORDER BY tile_z, tile_x, tile_y"
    },
    "q63_image_embed_topk" -> {
      // query count from the generator's id rule + Spark's crc32 semantics
      // (standard CRC32 over the UTF-8 id bytes)
      val nq = (0L until 2000L).count { i =>
        val c = new java.util.zip.CRC32()
        c.update(f"img$i%012d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        c.getValue % 100 == 0
      }
      s"SELECT CAST($nq AS BIGINT) AS n_queries, TRUE AS all_k, " +
        "TRUE AS ranks_sorted, TRUE AS no_self"
    },
    "q64_frame_sample" -> {
      // frames per image = ceil((h/frameH)/stride) with frameH=8, stride=2,
      // h from the generator's dims rule
      val hist = (0L until 2000L).map(i => (graft.fixtures.Fixtures.dimsOf(i)._2 / 8 + 1) / 2)
        .groupBy(identity).view.mapValues(_.size).toMap
      val vals = hist.toSeq.sorted.map { case (f, n) =>
        s"(CAST($f AS BIGINT), CAST($n AS BIGINT))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(n_frames, n_images) ORDER BY n_frames"
    },
    "q19_contributions" ->
      """WITH t AS (SELECT user_id, value,
        |  lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT CASE WHEN prev IS NULL THEN 'CREATION'
        |            WHEN value != prev THEN 'VALUE_CHANGE'
        |            ELSE 'NO_CHANGE' END AS kind, count(*) AS cnt
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "q6e_contribution_types" ->
      """WITH e AS (SELECT user_id, event_type, value, props,
        |    lag(event_type) OVER w AS prev_type,
        |    lag(value) OVER w AS prev_value,
        |    lag(props) OVER w AS prev_props
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |k AS (SELECT user_id, CASE
        |    WHEN event_type = 'error' THEN
        |      CASE WHEN prev_type IS NOT NULL AND prev_type <> 'error'
        |           THEN 'DELETION' ELSE 'NO_CHANGE' END
        |    WHEN prev_type IS NULL OR prev_type = 'error' THEN 'CREATION'
        |    WHEN props <> prev_props AND value <> prev_value THEN 'TAG_CHANGE+VALUE_CHANGE'
        |    WHEN props <> prev_props THEN 'TAG_CHANGE'
        |    WHEN value <> prev_value THEN 'VALUE_CHANGE'
        |    ELSE 'NO_CHANGE' END AS kinds
        |  FROM e)
        |SELECT kinds, count(*) AS cnt, count(DISTINCT user_id) AS n_users
        |FROM k GROUP BY kinds ORDER BY kinds""".stripMargin)
}
