package graft
package queries

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.operators.{MapMatch, Trajectory}
import graft.oracle.Derive
import Shared.{customerPts, tripsCtes, tripsOracleSql, stayPointsOracleSql, geofenceOracleSql}

/** Trajectories over the events table: trips, stays, geofences, OD
  * flows, co-location, similarity, anchors and map matching.
  */
object MobilityQueries {
  val all: Seq[Query] = Seq(
    // ---- MAP MATCHING: snap each point to its nearest segment within a
    //      radius ("attach a GPS fix / photo location to the road
    //      network"). Candidates via radius-expanded segment cover cells —
    //      no broadcast, no all-pairs; the per-pair point-to-segment kernel
    //      is a fixed IEEE double chain the oracle reproduces bit-for-bit;
    //      argmin = min(struct(⌊d²⌋, seg_id)) with the id tie-break.
    Query("q7t_map_match", (s, dir) => {
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
    },
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
         |FROM r WHERE rn = 1 ORDER BY qid""".stripMargin),
    // ---- TRAJECTORY segmentation: per-user GPS streams split into trips
    //      at >12h dwell gaps, each trip reduced to fix count / start /
    //      duration / path length (sessionization). ONE exchange on the
    //      entity key serves both windows and the final aggregate; the hop
    //      kernel is a fixed IEEE sqrt chain (correctly rounded BY the 754
    //      standard) so ⌊hop⌋ and its int64 trip sum are engine-invariant.
    Query("q82_trips", (s, dir) => {
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
    },
      tripsOracleSql),
    // ---- OD FLOW MATRIX: trips → one flow per trip from its first fix's
    //      cell to its last fix's cell, counted per directed cell pair —
    //      the aggregate mobility verb on top of q82. Endpoint election is
    //      a map-side-partial min_by/max_by keyed by the unique (tus, oid)
    //      pair (no per-trip sort); shift-before-div keeps integer division
    //      engine-invariant.
    Query("q89_od_matrix", (s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tus"),
        col("event_id"),
        Derive.lonMicro(col("event_id")).as("lonm"),
        Derive.latMicro(col("event_id")).as("latm"))
      Trajectory.odMatrix(ev, col("user_id"), col("tus"), col("event_id"),
          col("lonm"), col("latm"), gapUs = 43200L * 1000000L,
          cellMicro = 8000000L)
        .orderBy("o_cx", "o_cy", "d_cx", "d_cy")
    },
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
         |FROM od GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin),
    // ---- SPATIOTEMPORAL CO-LOCATION: contact events between DISTINCT
    //      entities within 200k µdeg AND 6 h of each other, counted per
    //      unordered pair — candidates from a (space-cell × τ-bucket) grid,
    //      never all-pairs; exact int64 d²/|Δt| predicates decide. Fixture
    //      places users on mod-13 hotspots with per-event jitter so
    //      co-location actually occurs; the oracle is the brute-force
    //      time-band self-join over the same derived fixes.
    Query("q90_colocation", (s, dir) => {
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
    },
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
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // ---- TRAJECTORY SIMILARITY: grid-quantized symmetric Hausdorff
    //      distance (squared cell units, level 12) between every entity
    //      pair that ever visited a common cell — co-visitation blocking,
    //      exact int64 throughout; same mod-13 hotspot fixture as q90.
    Query("q92_traj_hausdorff", (s, dir) => {
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
    },
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
         |ORDER BY 1, 2""".stripMargin),
    // ---- STAY-POINT detection (q99): per-entity maximal same-cell runs
    //      lasting ≥ 1 day with ≥ 3 fixes — the place-based complement of
    //      trip segmentation. Fixture: each user sits at a (user, 3-day
    //      slot) anchor with ±100k jitter over 400k cells, so runs dwell
    //      within slots and sometimes break at cell seams mid-slot.
    Query("q99_stay_points", (s, dir) => {
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
    },
      stayPointsOracleSql),
    // ---- CONVOY detection (q9b): pairs together in ≥ 3 CONSECUTIVE 3-day
    //      bins — the sequential extension of q90's co-location (contacts
    //      alone don't make a convoy; absence breaks runs). Same mod-13 hub
    //      fixture; per-bin together = any fix pair within 200k µdeg.
    Query("q9b_convoys", (s, dir) => {
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
    },
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
         |FROM g GROUP BY 1, 2 HAVING max(run) >= 3 ORDER BY 1, 2""".stripMargin),
    // ---- GEOFENCE transition events (q9d): enter/exit crossings of 13
    //      hub-centered rect fences over the slot-anchored mobility
    //      fixture — users oscillate ±300k+jitter around hubs with 250k
    //      fences, so both directions fire. Inclusive bounds; first fix
    //      inside = enter. One broadcast nested loop + one entity window.
    Query("q9d_geofence", (s, dir) => {
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
    },
      geofenceOracleSql),
    // ---- CELL-TRANSITION matrix (q9f): the first-order mobility Markov
    //      chain — directed edges between successive VISIT cells (runs
    //      collapse first, so no self-loops), every intermediate movement
    //      edge that q89's OD matrix throws away. Same slot fixture.
    Query("q9f_transitions", (s, dir) => {
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
    },
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
         |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin),
    // ---- GPS TELEPORT flagging (q9g): fixes whose implied speed from the
    //      previous fix exceeds 50 µdeg/s — the cleaning gate in front of
    //      every trajectory pipeline. Exact int64 predicate over the fixed
    //      IEEE hop chain; first fix never flags; zero-dt movement flags.
    Query("q9g_teleports", (s, dir) => {
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
    },
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
         |ORDER BY entity, tus, oid""".stripMargin),
    // ---- ANCHOR cells (q9i): each user's top-3 cells by total dwell time
    //      (home/work inference) — dwell is run-based (a 10 h visit beats
    //      50 passing pings), ranking deterministic. Same slot fixture.
    Query("q9i_anchors", (s, dir) => {
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
    },
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
         |ORDER BY entity, rank""".stripMargin),
    // ---- PLACE CO-VISITATION (q9k): "people who go here also go there" —
    //      common-visitor counts per cell pair over the slot fixture
    //      (users hop between slot anchors, so footprints span many cells
    //      and hub-mates co-visit); footprint cap 64, counts over the kept
    //      universe so the consumer's Jaccard is coherent.
    Query("q9k_covisits", (s, dir) => {
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
    },
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
         |ORDER BY 1, 2, 3, 4""".stripMargin),
    // ---- DISCRETE FRÉCHET similarity (q9m): order-aware trajectory
    //      distance — users cycle their hub's 4 POIs with a user-dependent
    //      PHASE, so hub-mates share every cell (Hausdorff-blind) while
    //      Fréchet separates the phase groups; exact int64 DP.
    Query("q9m_frechet", (s, dir) => {
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
    }, {
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
    }),
    // ---- NEXT-LOCATION eval (q9s): how predictable is the corpus — fit
    //      the global transition matrix on each user's first 70% of
    //      visits, predict test-transition destinations (argmax, ties to
    //      min cell), unseen from-cells are honest misses; ONE int row.
    Query("q9s_next_cell_eval", (s, dir) => {
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
    },
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
         |WHERE NOT tr.train""".stripMargin),
    // ---- Visit concentration (qae): the predictability surrogate — how
    //      unevenly each user's fixes spread over its cells (Simpson Σn²);
    //      complements qa5's r_g (how FAR) with how UNEVENLY; slot fixture.
    Query("qae_visit_conc", (s, dir) => {
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
    },
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
         |FROM c GROUP BY ent ORDER BY entity""".stripMargin),
    // ---- Viterbi map matching (qa7): the sequence-consistent upgrade of
    //      q7t — each entity walks along a pair of parallel roads with GPS
    //      jitter that straddles both; per-fix nearest snapping ping-pongs,
    //      the switch penalty keeps the matched road stable. Query emits
    //      per-entity (n_fixes, total path cost); the oracle computes the
    //      DP MINIMUM independently, so equality certifies optimality.
    Query("qa7_viterbi", (s, dir) => {
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
    }, {
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
    }),
    // ---- Radius of gyration (qa5): the mobility-range statistic — per-
    //      entity integer components re-anchored to the entity's own min
    //      corner so Σd² never nears int64 overflow; slot fixture.
    Query("qa5_gyration", (s, dir) => {
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
    },
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
         |GROUP BY f.ent ORDER BY entity""".stripMargin)
  )
}
