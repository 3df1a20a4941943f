package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.Fixpoint

/** Triangle counting over an undirected graph — the clustering-coefficient
  * / community-density primitive (road-network mesh density, co-occurrence
  * graphs over tags, near-dup cluster quality).
  *
  * Semantics: edges are undirected; self-loops and duplicate/reversed
  * copies collapse first (canonical a < b, distinct). The result is ONE row
  * with the exact number of unordered vertex triples {x, y, z} whose three
  * edges all exist. Pure int64 — any engine reproduces it bit-for-bit.
  *
  * Plan (100 TB posture): the degree-orientation shape [Suri &
  * Vassilvitskii 2011, "Counting triangles and the curse of the last
  * reducer"]: orient every canonical edge from its lower-(degree, id)
  * endpoint to the higher one — a total order, so the oriented graph is
  * acyclic and out-degrees are O(√m) even on power-law graphs. Wedges are
  * then a self-equi-join of the oriented edges on the source, and a
  * triangle is a wedge whose (rank-ordered) far pair is itself an oriented
  * edge — ONE more equi-join. Without orientation the hub vertex of a
  * star contributes deg² wedges to a single task (the "last reducer");
  * with it, every vertex contributes ≤ outdeg² ≤ O(m). Three hash
  * exchanges total (degree agg, wedge join, closing join) — no broadcast
  * required, no driver structure; AQE handles residual wedge skew.
  */
object Graph {

  /** @param edges undirected edge list (duplicates/reversals/self-loops ok)
    * @return single row (triangles: bigint)
    */
  def triangleCount(edges: DataFrame, u: Column, v: Column): DataFrame = {
    val canon = edges.select(
        least(u.cast("long"), v.cast("long")).as("a"),
        greatest(u.cast("long"), v.cast("long")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()

    val deg = canon.select(col("a").as("n"))
      .union(canon.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))

    // orient low-(d, n) → high-(d, n); carry the far endpoint's rank so the
    // wedge join can order its pair without re-joining degrees
    val ranked = canon
      .join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
      .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = ranked.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("ddst"))

    // wedges (p, q) with rank(p) < rank(q): both out-neighbours of src, so
    // the closing edge — if it exists — is oriented p → q by transitivity
    val o1 = oriented.select(col("src"), col("dst").as("p"), col("ddst").as("dp"))
    val o2 = oriented.select(col("src"), col("dst").as("q"), col("ddst").as("dq"))
    val wedges = o1.join(o2, "src")
      .where(col("dp") < col("dq") ||
        (col("dp") === col("dq") && col("p") < col("q")))
      .select(col("p"), col("q"))

    wedges.join(oriented.select(col("src").as("p"), col("dst").as("q")),
        Seq("p", "q"))
      .agg(count(lit(1)).as("triangles"))
  }

  /** PER-VERTEX triangle counts — the local extension of [[triangleCount]]
    * and the integer core of the CLUSTERING COEFFICIENT: cc(v) =
    * 2·triangles(v) / (deg(v)·(deg(v)−1)) is the consumer's one float
    * division, so the emitted (vertex, triangles, degree) rows are exact
    * int64 and oracle-hashable. The "how cliquish is this node's
    * neighborhood" verb — ego-network density, spam/bot detection, road
    * intersection typology.
    *
    * Same Suri–Vassilvitskii degree orientation as the global count
    * (per-vertex wedge fan-out capped at outdeg² = O(m)); each closed
    * wedge (src, p, q) is one triangle touching all THREE vertices, so the
    * closing join's rows explode ×3 into one map-side-combined per-vertex
    * hash aggregate; triangle-free vertices keep a zero row via the left
    * join against the degree table.
    */
  def vertexTriangles(edges: DataFrame, u: Column, v: Column): DataFrame = {
    val canon = edges.select(
        least(u.cast("long"), v.cast("long")).as("a"),
        greatest(u.cast("long"), v.cast("long")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    val deg = canon.select(col("a").as("n"))
      .union(canon.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val ranked = canon
      .join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
      .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = ranked.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("ddst"))
    val o1 = oriented.select(col("src"), col("dst").as("p"), col("ddst").as("dp"))
    val o2 = oriented.select(col("src"), col("dst").as("q"), col("ddst").as("dq"))
    val wedges = o1.join(o2, "src")
      .where(col("dp") < col("dq") ||
        (col("dp") === col("dq") && col("p") < col("q")))
      .select(col("src"), col("p"), col("q"))
    val tris = wedges
      .join(oriented.select(col("src").as("p"), col("dst").as("q")),
        Seq("p", "q"))
      .select(explode(array(col("src"), col("p"), col("q"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("triangles"))
    deg.join(tris, Seq("n"), "left")
      .select(col("n"), coalesce(col("triangles"), lit(0L)).as("triangles"),
        col("d").as("degree"))
  }

  /** Bounded-iteration PageRank in EXACT int64 fixed-point — the
    * graph-centrality verb (road-network importance, link-graph quality
    * weights for corpus curation à la Common Crawl's harmonic-centrality
    * ranking).
    *
    * Deterministic integer rule (d = 85/100 damping, SCALE = 10^12):
    *   V       = nodes appearing as src or dst of the deduped edge set
    *   out(u)  = out-degree of u over DISTINCT (src, dst) edges
    *   r_0(v)  = SCALE
    *   r_k(v)  = BASE + (85 · Σ_{u→v} (r_{k-1}(u) div out(u))) div 100,
    *             BASE = (15 · SCALE) div 100
    * Every op is an int64 add / multiply / `div` — any engine replays it
    * bit-for-bit (the float-free twin of the textbook power iteration;
    * integer division drops sub-unit mass and dangling mass exactly like
    * the "remove dangling nodes" simplification — deterministic, and
    * irrelevant to ranking order at SCALE = 10^12). Σ stays < 2^63 for
    * |V| ≤ ~9 M at this scale; lower SCALE for bigger graphs.
    *
    * Plan (100 TB posture): `iters` [[Fixpoint.rounds]] — per round ONE
    * equi-join of the rank table against the out-degree-annotated edges on
    * src and ONE hash sum-aggregate, then a left join back onto V for
    * in-degree-0 nodes (BASE only). Edges are scanned once per round,
    * never collected, never broadcast (rank and edge tables shuffle-join
    * on the same key, and AQE may still choose broadcast when a side is
    * genuinely small).
    */
  def pageRank(edges: DataFrame, u: Column, v: Column, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 64, "iters must be in [1, 64]")
    val SCALE = 1000000000000L
    val BASE = 15L * SCALE / 100L

    val e = edges.select(u.cast("long").as("_src"), v.cast("long").as("_dst"))
      .distinct()
    val nodes = e.select(col("_src").as("node"))
      .union(e.select(col("_dst").as("node")))
      .distinct()
      .localCheckpoint()
    val outDeg = e.groupBy("_src").agg(count(lit(1)).as("_out"))
    val eAnn = e.join(outDeg, "_src").localCheckpoint() // derived ONCE

    Fixpoint.rounds(nodes.withColumn("r", lit(SCALE)), iters) { rank =>
      val contrib = rank.join(eAnn, col("node") === col("_src"))
        .select(col("_dst").as("node"),
          expr("r div _out").as("c")) // exact int64 division, not `/`
        .groupBy("node").agg(sum("c").as("s"))
      nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          expr(s"$BASE + (85 * coalesce(s, 0)) div 100").as("r"))
    }
  }

  /** k-CORE decomposition — the maximal subgraph in which every vertex has
    * degree ≥ k (the cohesion/robustness verb: community nuclei, spam-farm
    * and fringe pruning before centrality, network backbone extraction).
    * Returns the core's vertices with their WITHIN-CORE degree.
    *
    * Semantics: edges are undirected; self-loops and duplicate/reversed
    * copies collapse first (canonical a < b, distinct). Then the unique
    * fixpoint of "delete every vertex of degree < k": the k-core is
    * order-independent (peeling is confluent), so the synchronous rule —
    * remove ALL sub-k vertices each round — reaches the same set any
    * schedule does, which is what makes a SQL round-replay twin possible.
    *
    * Plan (100 TB posture): per round ONE degree hash-aggregate over the
    * live edge set + TWO anti-joins against the (small) peeled-vertex set —
    * AQE broadcasts it; no window, no sort, no driver-side graph. Rounds
    * run under [[Fixpoint.iterate]]. Round count = peeling DEPTH + 1, not
    * vertex count: one round per onion layer, plus the round that peels
    * nothing — O(log n) on cohesive graphs, but an
    * L-vertex dangling chain peels from the ends at 2 vertices/round (the
    * known parallel-peel worst case), so `maxRounds` is a contract:
    * non-convergence RAISES rather than returning a silently-unpeeled core.
    */
  def kCore(edges: DataFrame, u: Column, v: Column, k: Int,
            maxRounds: Int = 32): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxRounds >= 1 && maxRounds <= 64, "maxRounds out of range")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("n")).union(e.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
    val simple = edges.select(
        least(u.cast("long"), v.cast("long")).as("a"),
        greatest(u.cast("long"), v.cast("long")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val (live, converged) = Fixpoint.iterate(simple, maxRounds) { live =>
      val peel = degrees(live).where(col("d") < k).select("n")
      live.join(peel.select(col("n").as("a")), Seq("a"), "left_anti")
        .join(peel.select(col("n").as("b")), Seq("b"), "left_anti")
    } { (next, prev) => prev.join(next, Seq("a", "b"), "left_anti") }
    require(converged, s"k-core peel did not converge in $maxRounds rounds " +
      "— raise maxRounds (long dangling chains peel at 2 vertices/round)")
    degrees(live).withColumnRenamed("d", "core_deg")
  }

  /** SYNCHRONOUS LABEL PROPAGATION communities [Raghavan 2007,
    * deterministic variant] — the cheap community detector: after K
    * synchronous rounds of "adopt your neighbors' most common label",
    * densely-linked node sets share a label. Classic async LPA is
    * visit-order-dependent; this variant is a TOTAL rule, engine-invariant
    * and oracle-replayable:
    *   - simple graph: parallel edges/reversals dedup, self-loops drop —
    *     each neighbor casts exactly ONE vote;
    *   - label(0)(x) = x; label(k+1)(x) = the smallest label among the
    *     most frequent labels of N(x) (argmin by (−count, label));
    *   - exactly `rounds` synchronous rounds — NO convergence claim
    *     (synchronous LPA provably 2-cycles on bipartite-ish structures
    *     [Raghavan's own caveat], so a fixed-K snapshot is the honest
    *     deterministic semantics; pick K by diagnosing stability offline).
    *
    * Output: (node, label) after K rounds, for every node incident to an
    * edge (isolated nodes have no votes to receive — union them in as
    * self-labeled rows if the use case needs them).
    *
    * Plan (100 TB posture): per round — ONE labels⋈edges equi-join, one
    * (node, label) hash count, one min(struct) argmin hash aggregate, as
    * `rounds` [[Fixpoint.rounds]] (K ≤ 8 bounds cost). No window sort, no
    * driver state.
    */
  def labelPropagation(edges: DataFrame, u: Column, v: Column,
                       rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 8, "rounds in [1, 8]")
    val e0 = edges.select(u.cast("long").as("a"), v.cast("long").as("b"))
      .where(col("a") =!= col("b"))
    val und = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    val init = und.select(col("a").as("node")).distinct()
      .withColumn("lbl", col("node"))
    Fixpoint.rounds(init, rounds) { lbl =>
      und.join(lbl.select(col("node").as("b"), col("lbl").as("nl")), "b")
        .groupBy(col("a").as("node"), col("nl")).agg(count(lit(1)).as("cnt"))
        .groupBy("node")
        .agg(min(struct((-col("cnt")).as("nc"), col("nl").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("lbl"))
    }
  }
}
