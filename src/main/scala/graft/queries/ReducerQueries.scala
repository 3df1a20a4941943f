package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.api.Reducer
import graft.functions.GraftFunctions._

/** MapReducer-style aggregations, the filter DSL, tag dictionary,
  * temporal joins, sessionization and contribution classification.
  */
object ReducerQueries {
  /** Weekly snapshot instants via the ISO interval+period expander (B3 —
    * the reference's `timestamps("2024-01-08","2024-01-29","P7D")`).
    */
  private val snapTimes = graft.api.Timestamps.expandStrings(
    "2024-01-08", "2024-01-29", "P7D")

  val all: Seq[Query] = Seq(
    // ---- D1/D12: count with nested (two-level) index
    Query("q10_count_nested", (s, dir) => {
      Reducer.on(s.read.parquet(s"$dir/lineitem.parquet"))
        .aggregateBy("l_returnflag", col("l_returnflag"))
        .aggregateBy("l_linestatus", col("l_linestatus"))
        .count("cnt").orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt FROM lineitem
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // ---- D2: sum (exact decimal accumulation → double)
    Query("q11_sum", (s, dir) => {
      Reducer.on(s.read.parquet(s"$dir/lineitem.parquet"))
        .aggregateBy("l_returnflag", col("l_returnflag"))
        .sum(col("l_quantity"), "sum_qty").orderBy("l_returnflag")
    },
      """SELECT l_returnflag, CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- D3: average
    Query("q12_avg", (s, dir) => {
      Reducer.on(s.read.parquet(s"$dir/lineitem.parquet"))
        .aggregateBy("l_returnflag", col("l_returnflag"))
        .average(col("l_quantity"), "avg_qty").orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
        |CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) / count(l_quantity) AS avg_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- D4: weighted average (Σwx/Σw)
    Query("q13_weighted_avg", (s, dir) => {
      Reducer.on(s.read.parquet(s"$dir/lineitem.parquet"))
        .aggregateBy("l_returnflag", col("l_returnflag"))
        .weightedAverage(col("l_extendedprice"), col("l_quantity"), "wavg_price")
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
        |CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(27,6))) AS DOUBLE)
        | / CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS wavg_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- D5: uniq (exact distinct set, surfaced as rows)
    Query("q14_uniq", (s, dir) => {
      Reducer.on(s.read.parquet(s"$dir/orders.parquet"))
        .aggregateBy("o_orderstatus", col("o_orderstatus"))
        .uniq(col("o_orderpriority"), "priority")
        .orderBy("o_orderstatus", "priority")
    },
      """SELECT DISTINCT o_orderstatus, o_orderpriority AS priority FROM orders
        |ORDER BY o_orderstatus, priority""".stripMargin),
    // ---- D6: countUniq (exact distinct count)
    Query("q15_count_uniq", (s, dir) => {
      Reducer.on(s.read.parquet(s"$dir/lineitem.parquet"))
        .aggregateBy("l_returnflag", col("l_returnflag"))
        .countUniq(col("l_partkey"), "n_parts").orderBy("l_returnflag")
    },
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts FROM lineitem
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- D9+zerofill: timestamp-keyed count with empty buckets filled
    Query("q16_zerofill_month", (s, dir) => {
      val fo = s.read.parquet(s"$dir/orders.parquet").where(col("o_orderkey") % 97 === 0)
      val r = Reducer.on(fo).aggregateByTimestamp("month", col("o_orderdate"), "month")
      val counted = r.count("cnt")
      val domain = fo.agg(date_trunc("month", min("o_orderdate")).as("lo"),
          date_trunc("month", max("o_orderdate")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 month"))).as("m"))
        .select(date_format(col("m"), "yyyy-MM-dd HH:mm:ss").as("month"))
      r.zerofill(counted, domain, Map("cnt" -> lit(0L))).orderBy("month")
    },
      """WITH fo AS (SELECT * FROM orders WHERE o_orderkey % 97 = 0),
        |b AS (SELECT date_trunc('month', min(o_orderdate)) AS lo,
        |             date_trunc('month', max(o_orderdate)) AS hi FROM fo),
        |d AS (SELECT strftime(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)), '%Y-%m-%d %H:%M:%S') AS month FROM b),
        |c AS (SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d %H:%M:%S') AS month,
        |      count(*) AS cnt FROM fo GROUP BY 1)
        |SELECT d.month AS month, coalesce(c.cnt, 0) AS cnt
        |FROM d LEFT JOIN c USING(month) ORDER BY month""".stripMargin),
    // ---- D-extra: hierarchical rollup (grouping sets — free via Catalyst,
    //      noted in SURVEY §2.D; exposed for completeness)
    Query("q23_rollup", (s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"), col("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |coalesce(l_linestatus, 'ALL') AS l_linestatus, count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    // ---- D7: exact quantiles (reference: estimatedMedian/Quantiles via t-digest)
    Query("q17_quantiles", (s, dir) => {
      Reducer.on(s.read.parquet(s"$dir/lineitem.parquet"))
        .aggregateBy("l_returnflag", col("l_returnflag"))
        .quantile(col("l_quantity"), 0.5, "median_qty").orderBy("l_returnflag")
    },
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- D7 plural: estimatedQuantiles(qs) — exact multi-quantile list
    Query("q22_quantiles_multi", (s, dir) => {
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
    },
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.25) AS q25,
        |quantile_cont(l_quantity, 0.5) AS q50, quantile_cont(l_quantity, 0.75) AS q75
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- D7 at scale: mergeable KLL quantile sketch. ORACLED via a
    //      driver-checkable rank bound: the estimate's EXACT rank (computed
    //      in Spark over the same data) must sit within 0.5 ± 0.02 — the
    //      KLL k=200 guarantee KllSpec gates; the oracle recomputes n and
    //      asserts the same boolean, so a sketch drifting out of its
    //      guarantee turns this row red at the driver.
    Query("q24_sketch_quantile", (s, dir) => {
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
    },
      // sketch bound rows: the oracle recomputes the exact aggregates and
      // asserts the guarantee booleans the Spark side derived from the sketch
      """SELECT l_returnflag, count(*) AS n_rows, TRUE AS within_bound
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- C3: as-of join — entity state valid at each snapshot timestamp
    Query("q18_snapshot_asof", (s, dir) => {
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
    }, {
      val snapList = snapTimes.map(t => s"'$t'").mkString("[", ", ", "]")
      s"""WITH snaps AS (SELECT unnest($snapList) AS snap_ts),
         |cand AS (SELECT s.snap_ts AS snap_ts, e.user_id, e.value,
         |  row_number() OVER (PARTITION BY s.snap_ts, e.user_id
         |                     ORDER BY e.ts DESC, e.event_id DESC) AS rn
         |  FROM events e JOIN snaps s ON e.ts <= CAST(s.snap_ts AS TIMESTAMP))
         |SELECT snap_ts, user_id, value AS last_value FROM cand WHERE rn = 1
         |ORDER BY snap_ts, user_id""".stripMargin
    }),
    // ---- C3 general form: interval × instant temporal join (entity
    //      validity containment) via time-bin bucketing — equi-join on bin,
    //      exact epoch-second containment filter, no dedupe needed
    Query("q33_interval_join", (s, dir) => {
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
    }, {
      val snapList = snapTimes.map(t => s"'$t'").mkString("[", ", ", "]")
      s"""WITH snaps AS (SELECT unnest($snapList) AS snap_ts),
         |iv AS (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         |  CAST(floor(epoch(ts)) AS BIGINT) + (event_id % 7 + 1) * 3600 AS e FROM events)
         |SELECT sn.snap_ts, iv.event_id
         |FROM iv JOIN snaps sn
         |  ON epoch(CAST(sn.snap_ts AS TIMESTAMP)) BETWEEN iv.s AND iv.e
         |ORDER BY snap_ts, event_id""".stripMargin
    }),
    // ---- interval × interval overlap join (bin bucketing, first-shared-bin
    //      dedupe-free emission)
    Query("q35_interval_overlap", (s, dir) => {
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
    },
      // floor(epoch(ts)): Spark's ts.cast(long) TRUNCATES to whole seconds —
      // fractional-second epochs here would disagree on intervals that only
      // touch after truncation (caught at sf0.1: one boundary pair)
      """WITH base AS (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |  CAST(floor(epoch(ts)) AS BIGINT) + (event_id % 7 + 1) * 3600 AS e
        |  FROM events WHERE user_id % 20 = 0),
        |a AS (SELECT event_id AS id_a, s, e FROM base WHERE event_id % 2 = 0),
        |b AS (SELECT event_id AS id_b, s, e FROM base WHERE event_id % 2 = 1)
        |SELECT a.id_a, b.id_b FROM a JOIN b ON a.s <= b.e AND b.s <= a.e
        |ORDER BY id_a, id_b""".stripMargin),
    // ---- E: gap-based sessionization (30-min inactivity ends a session)
    Query("q20_sessionize", (s, dir) => {
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
    },
      // floor(epoch(ts)) matches Spark's whole-second ts.cast(long) — a
      // fractional gap of exactly ~1800.x s could otherwise split sessions
      // differently (same truncation hazard the sf0.1 run caught on q35)
      """WITH g AS (SELECT user_id, ts, event_id,
        |  CASE WHEN floor(epoch(ts)) - floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) > 1800
        |       THEN 1 ELSE 0 END AS gap FROM events),
        |s AS (SELECT user_id, ts,
        |  CAST(sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM g)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  min(ts) AS t_start, max(ts) AS t_end
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin),
    // ---- B7: groupByEntity — full ordered history per entity as one row
    Query("q21_group_entity", (s, dir) => {
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
    },
      """SELECT user_id,
        |CAST(count(*) OVER (PARTITION BY user_id) AS INTEGER) AS n_versions,
        |row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version_idx,
        |value
        |FROM events ORDER BY user_id, version_idx""".stripMargin),
    // ---- B5: filter DSL compiled to Catalyst Columns (pushdown for free)
    Query("q30_filter_dsl", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.where(graft.filter.FilterDsl.toColumn(
          "l_returnflag=R and l_quantity:(10..30) and not l_linestatus=F", li.schema))
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity BETWEEN 10 AND 30 AND NOT l_linestatus = 'F'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Query("q31_filter_dsl_in", (s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      o.where(graft.filter.FilterDsl.toColumn(
          "o_orderpriority in (1-URGENT, 2-HIGH) and o_orderstatus=* and o_totalprice:(100000..)", o.schema))
        .select("o_orderkey").orderBy("o_orderkey")
    },
      """SELECT o_orderkey FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_orderstatus IS NOT NULL
        |AND o_totalprice >= 100000 ORDER BY o_orderkey""".stripMargin),
    // ---- A4: broadcast tag dictionary (keytables / TagTranslator role) —
    //      strings → dense ids at the boundary, aggregate on ints, decode at
    //      the end; ids reproducible (sorted-value order)
    Query("q32_tag_dictionary", (s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val dict = graft.sources.TagDictionary.build(o, col("o_orderpriority"))
      val agg = graft.sources.TagDictionary.encode(o, col("o_orderpriority"), dict)
        .groupBy("tag_id").agg(count(lit(1)).as("n_orders"))
      graft.sources.TagDictionary.decode(agg, col("tag_id"), dict)
        .select("tag_id", "tag", "n_orders").orderBy("tag_id")
    },
      """WITH d AS (SELECT DISTINCT o_orderpriority AS tag FROM orders WHERE o_orderpriority IS NOT NULL),
        |ids AS (SELECT CAST(row_number() OVER (ORDER BY tag) AS BIGINT) - 1 AS tag_id, tag FROM d)
        |SELECT i.tag_id, i.tag, count(*) AS n_orders
        |FROM orders o JOIN ids i ON o.o_orderpriority = i.tag
        |GROUP BY 1, 2 ORDER BY tag_id""".stripMargin),
    // ---- H7/H8: contribution classification (diff consecutive versions)
    Query("q19_contributions", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("prev", lag("value", 1).over(w))
        .withColumn("kind", when(col("prev").isNull, "CREATION")
          .when(col("value") =!= col("prev"), "VALUE_CHANGE")
          .otherwise("NO_CHANGE"))
        .groupBy("kind").agg(count(lit(1)).as("cnt"))
        .orderBy("kind")
    },
      """WITH t AS (SELECT user_id, value,
        |  lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT CASE WHEN prev IS NULL THEN 'CREATION'
        |            WHEN value != prev THEN 'VALUE_CHANGE'
        |            ELSE 'NO_CHANGE' END AS kind, count(*) AS cnt
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- H7/H8 FULL ContributionType enum (upstream: {CREATION, DELETION,
    //      TAG_CHANGE, GEOMETRY_CHANGE} as an EnumSet): DELETION via the
    //      tombstone convention (event_type='error' ⇒ visible=false; the
    //      next visible version is a re-CREATION), TAG_CHANGE from the
    //      props column, VALUE_CHANGE standing in for GEOMETRY_CHANGE —
    //      both at once kept as the canonical joined set. State is one lag
    //      deep by construction (comparisons only against a VISIBLE
    //      predecessor), so the whole kernel is a single window pass.
    Query("q6e_contribution_types", (s, dir) => {
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
    },
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
  )
}
