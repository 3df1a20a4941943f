package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.Fixpoint

/** Bounded-hop single-source shortest path over the (snapped) road
  * network — the routing/reachability verb downstream of map matching
  * (q7t): "network distance from the depot to every reachable node within
  * H hops". Upstream users run this off-engine after exporting ways; we
  * keep it on the cluster.
  *
  * Semantics (exact, deterministic): directed edges (src, dst, w) with
  * int64 weight w ≥ 0; dist_H(v) = min over all paths from any source to v
  * using ≤ H edges of the path's weight sum. Output is one row per node
  * with dist_H(v) < ∞. With H ≥ graph diameter this IS single-source
  * shortest path; the hop bound makes the operator a finite, oracle-
  * expressible fixpoint prefix (each round is one Bellman-Ford relaxation,
  * so round k holds exactly dist_k — the textbook invariant).
  *
  * All arithmetic is int64 adds and mins — no floats anywhere — so any
  * engine reproduces it bit-for-bit. Weight sums must stay < 2^63
  * (caller's contract: H · max(w) bounds the reachable sum).
  *
  * Plan (100 TB posture): the Pregel/Bellman-Ford shape — per round ONE
  * equi-join of the frontier dist table against the edge table on src
  * (shuffle ∝ out-degree of reached nodes, AQE-skew-safe) and ONE hash
  * min-aggregate, run as at most H [[Fixpoint.iterate]] rounds. Early
  * exit when a round changes no dist: dist_k = dist_{k-1} is a fixpoint
  * of relaxation, so all later rounds are provably identical; a run that
  * hits H returns dist_H, which is the contract, so the `converged` flag
  * is not consulted. The edge table is scanned once per round and never
  * collected; nothing driver-sized anywhere.
  * Negative-cycle hazards don't exist (w ≥ 0 enforced, hops bounded).
  */
object Routing {

  /** (_src, _dst, _w ≥ 0) as longs — derived ONCE, not once per round. */
  private def edgeTable(edges: DataFrame, src: Column, dst: Column,
                        w: Column): DataFrame =
    edges.select(src.cast("long").as("_src"),
        dst.cast("long").as("_dst"), w.cast("long").as("_w"))
      .where(col("_w") >= 0L).localCheckpoint()

  /** @param edges   (src, dst, w) directed weighted edge table
    * @param sources source node ids (dist 0), driver-side (a routing query
    *                names its origins; this is not data-sized)
    * @param maxHops H — relaxation rounds / path-length bound
    * @return (node, dist) for every node reachable in ≤ H hops
    */
  def shortestPaths(edges: DataFrame, src: Column, dst: Column, w: Column,
                    sources: Seq[Long], maxHops: Int): DataFrame = {
    require(maxHops >= 0 && maxHops <= 64, "maxHops must be in [0, 64]")
    require(sources.nonEmpty, "need at least one source node")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edgeTable(edges, src, dst, w)
    val init = sources.distinct.toDF("node").withColumn("dist", lit(0L))
    Fixpoint.iterate(init, maxHops) { dist =>
      val relaxed = dist.join(e, col("node") === col("_src"))
        .select(col("_dst").as("node"), (col("dist") + col("_w")).as("dist"))
      dist.union(relaxed).groupBy("node").agg(min("dist").as("dist"))
    } { (next, prev) =>
      // relaxation is monotone (dists only decrease, the reached set only
      // grows), so "no row improved AND no row appeared" ⟺ next = prev
      next.join(prev.withColumnRenamed("dist", "_old"), Seq("node"), "left")
        .where(col("_old").isNull || col("dist") < col("_old"))
    }._1
  }

  /** LABELED multi-source shortest paths — [[shortestPaths]] where every
    * source carries a LABEL and each node reports the label of its nearest
    * source (ties → smallest label): the allocation/catchment verb
    * ("which depot serves this node"), i.e. network Voronoi. The
    * per-round reduction is the lexicographic min over (dist, label) —
    * monotone in that lattice, so the relaxation is confluent and the
    * bounded prefix d_H is engine-invariant like the unlabeled operator.
    *
    * Output: (node, dist, label) for every node reachable in ≤ H hops.
    *
    * Plan: identical Pregel discipline; the per-node reduction runs
    * through [[graft.functions.ArgMinLongsAgg]] (ObjectHashAggregate,
    * map-side partial argmin, no sort node — `min(struct)` would plan a
    * SortAggregate on both sides of the exchange).
    */
  def labeledPaths(edges: DataFrame, src: Column, dst: Column, w: Column,
                   sources: Seq[(Long, Long)], maxHops: Int): DataFrame = {
    require(maxHops >= 0 && maxHops <= 64, "maxHops must be in [0, 64]")
    require(sources.nonEmpty, "need at least one (source, label)")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edgeTable(edges, src, dst, w)
    // duplicate source nodes collapse to their smallest label up front
    val init = sources.groupBy(_._1).map { case (n, ls) =>
        (n, ls.map(_._2).min)
      }.toSeq.toDF("node", "lab")
      .select(col("node"), lit(0L).as("dist"), col("lab"))
    Fixpoint.iterate(init, maxHops) { dist =>
      val relaxed = dist.join(e, col("node") === col("_src"))
        .select(col("_dst").as("node"), (col("dist") + col("_w")).as("dist"),
          col("lab"))
      dist.union(relaxed)
        .groupBy("node")
        .agg(graft.functions.ArgMinLongsAgg.argminLongs(
          struct(col("dist"), col("lab"))).as("_m"))
        .select(col("node"), col("_m.dist").as("dist"), col("_m.lab").as("lab"))
    } { (next, prev) =>
      next.join(prev.withColumnRenamed("dist", "_od")
          .withColumnRenamed("lab", "_ol"), Seq("node"), "left")
        .where(col("_od").isNull || col("dist") < col("_od") ||
          (col("dist") === col("_od") && col("lab") < col("_ol")))
    }._1
  }
}
