package graft
package queries

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.operators.Routing
import graft.oracle.Derive

/** Graph operators: shortest paths, triangles, PageRank, k-core,
  * label propagation and network dissolve.
  */
object GraphQueries {
  val all: Seq[Query] = Seq(
    // ---- ROUTING: bounded-hop single-source shortest path over a synthetic
    //      road graph (Bellman-Ford rounds = Pregel shape: one frontier⋈edges
    //      equi-join + one hash min-aggregate per plans.Fixpoint round).
    //      Pure int64 adds and mins — the DuckDB twin is H chained
    //      min-relaxation CTEs.
    Query("q83_sssp", (s, dir) => {
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
    }, {
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
    }),
    // ---- TRIANGLE COUNT: degree-oriented wedge join (Suri–Vassilvitskii) —
    //      orientation caps per-vertex wedge fan-out at outdeg² = O(m), so
    //      no "last reducer" hot task on power-law hubs; three hash
    //      exchanges, pure int64, single-row exact result.
    Query("q84_triangles", (s, dir) => {
      val k = col("o_orderkey")
      val edges = s.read.parquet(s"$dir/orders.parquet").select(
        (k % 300L).as("u"),
        expr("(o_orderkey div 300 + o_orderkey * 7919) % 300").as("v"))
      operators.Graph.triangleCount(edges, col("u"), col("v"))
    },
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
        |JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin),
    // ---- PAGERANK: bounded-iteration link centrality in EXACT int64
    //      fixed-point (SCALE 10^12, damping 85/100, integer `div` at both
    //      the per-edge contribution and the damped sum) — one rank⋈edges
    //      equi-join + one hash sum-aggregate per plans.Fixpoint round.
    //      6 rounds; the DuckDB twin is 6 chained CTEs replaying the rule.
    Query("q86_pagerank", (s, dir) => {
      val k = col("o_orderkey")
      val edges = s.read.parquet(s"$dir/orders.parquet").select(
        (k % 400L).as("src"),
        expr("(o_orderkey div 400 + o_orderkey * 7919 + 31) % 400").as("dst"))
      operators.Graph.pageRank(edges, col("src"), col("dst"), iters = 6)
        .orderBy("node")
    }, {
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
    }),
    // ---- k-CORE: the 2-core of a skewed hash graph UNION a 15-vertex
    //      dangling path — the path peels from both ends at one vertex
    //      per round (8 rounds at every SF), so only a genuinely iterative
    //      peel reproduces the fixpoint; the oracle replays 12 synchronous
    //      rounds (idempotent past convergence).
    Query("q91_kcore", (s, dir) => {
      val ok = col("o_orderkey")
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val raw = orders.select(((ok * ok) % 2311L).as("x"),
          ((ok * 7919L + 13L) % ((ok % 389L) + 7L)).as("y"))
        .union(orders.select((ok % 14L + 10000L).as("x"),
          (ok % 14L + 10001L).as("y")))
      operators.Graph.kCore(raw, col("x"), col("y"), k = 2, maxRounds = 12)
        .orderBy("n")
    }, {
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
    }),
    // ---- PER-VERTEX triangles (q9p): the clustering-coefficient core —
    //      (vertex, triangles, degree) over the q84 hash graph; cc =
    //      2T/(d(d−1)) is the consumer's float step. Triangle-free
    //      vertices keep zero rows.
    Query("q9p_vertex_triangles", (s, dir) => {
      val k = col("o_orderkey")
      val edges = s.read.parquet(s"$dir/orders.parquet").select(
        (k % 300L).as("u"),
        expr("(o_orderkey div 300 + o_orderkey * 7919) % 300").as("v"))
      operators.Graph.vertexTriangles(edges, col("u"), col("v")).orderBy("n")
    },
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
        |FROM deg LEFT JOIN tc USING (n) ORDER BY n""".stripMargin),
    // ---- Label propagation communities (qa6): K synchronous rounds of
    //      "adopt the neighbors' most common label" with the total
    //      (−count, label) argmin rule — fixed-K snapshot, no convergence
    //      claim (sync LPA 2-cycles on bipartite structure); q91's graph.
    Query("qa6_lpa", (s, dir) => {
      val ok = col("o_orderkey")
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val raw = orders.select(((ok * ok) % 2311L).as("x"),
          ((ok * 7919L + 13L) % ((ok % 389L) + 7L)).as("y"))
        .union(orders.select((ok % 14L + 10000L).as("x"),
          (ok % 14L + 10001L).as("y")))
      operators.Graph.labelPropagation(raw, col("x"), col("y"), rounds = 4)
        .orderBy("node")
    }, {
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
    }),
    // ---- Network dissolve (q9y): merge touching segments into polylines
    //      by exact shared-endpoint equality — chains derived from order
    //      keys with a deterministic ~9% segment drop, so chains fragment
    //      wherever a position is missing and the components have
    //      genuinely varied sizes. Node-star pairs (k−1 edges per degree-k
    //      junction) feed the star-contraction kernel; lengths ride the
    //      fixed IEEE chain.
    Query("q9y_dissolve", (s, dir) => {
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
    },
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
         |GROUP BY c.cl ORDER BY cluster""".stripMargin)
  )
}
