package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** triangleCount vs brute enumeration over canonical triples, plus hand
  * cases: duplicate/reversed/self-loop edges collapse, a star has zero
  * triangles (the orientation's worst pre-image), K4 has exactly 4.
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  private def brute(edges: Seq[(Long, Long)]): Long = {
    val e = edges.collect { case (u, v) if u != v =>
      (math.min(u, v), math.max(u, v))
    }.toSet
    val nodes = e.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    (for {
      i <- nodes.indices; j <- (i + 1) until nodes.size
      k <- (j + 1) until nodes.size
      x = nodes(i); y = nodes(j); z = nodes(k)
      if e((x, y)) && e((y, z)) && e((x, z))
    } yield 1).size.toLong
  }

  private def run(edges: Seq[(Long, Long)]): Long =
    Graph.triangleCount(edges.toDF("u", "v"), col("u"), col("v"))
      .collect().head.getLong(0)

  test("hand cases: dups/reversals/self-loops collapse; star 0; K4 = 4") {
    // triangle given as (1,2), (2,1) reversed dup, (2,3), (1,3) + noise
    assert(run(Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (1L, 1L))) === 1L)
    // star around 0: no closing edges
    assert(run((1L to 20L).map(i => (0L, i))) === 0L)
    // K4
    val k4 = for { i <- 0L to 3L; j <- (i + 1) to 3L } yield (i, j)
    assert(run(k4) === 4L)
  }

  test("brute parity on a pseudo-random multigraph") {
    val rnd = new scala.util.Random(11)
    val edges = (0 until 500).map { _ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)
    }
    assert(run(edges) === brute(edges))
  }

  // ---- pageRank: independent replay of the integer rule ----

  private def bruteVt(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val e = edges.collect { case (u, v) if u != v =>
      (math.min(u, v), math.max(u, v))
    }.toSet
    val nodes = e.flatMap(p => Seq(p._1, p._2))
    val deg = nodes.map(n => n -> e.count(p => p._1 == n || p._2 == n).toLong)
    deg.map { case (n, d) =>
      val nbrs = e.toSeq.collect { case (a, b) if a == n => b
                                   case (a, b) if b == n => a }
      val t = (for {
        x <- nbrs; y <- nbrs if x < y
        if e((math.min(x, y), math.max(x, y)))
      } yield 1).size.toLong
      n -> ((t, d))
    }.toMap
  }

  private def runVt(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] =
    Graph.vertexTriangles(edges.toDF("u", "v"), col("u"), col("v"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("vertexTriangles: K4 all (3,3); triangle+tail; star zeros survive") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(runVt(k4) === Map(1L -> ((3L, 3L)), 2L -> ((3L, 3L)),
      3L -> ((3L, 3L)), 4L -> ((3L, 3L))))
    // triangle {1,2,3} with tail 3-4: the tail vertex keeps its zero row
    val tt = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    assert(runVt(tt) === Map(1L -> ((1L, 2L)), 2L -> ((1L, 2L)),
      3L -> ((1L, 3L)), 4L -> ((0L, 1L))))
    // star: every vertex 0 triangles (hub worst-case pre-image)
    val star = (2L to 8L).map(i => (1L, i))
    assert(runVt(star) === bruteVt(star))
    assert(runVt(star).values.forall(_._1 == 0L))
  }

  test("vertexTriangles: brute parity; locals sum to 3x the global count") {
    val rnd = new scala.util.Random(83)
    val edges = (0 until 600).map { _ =>
      (rnd.nextLong(60L), rnd.nextLong(60L))
    }
    val got = runVt(edges)
    assert(got === bruteVt(edges))
    assert(got.values.map(_._1).sum === 3L * run(edges))
  }

  private def brutePr(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val SCALE = 1000000000000L
    val BASE = 15L * SCALE / 100L
    val e = edges.distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct
    val out = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = nodes.map(_ -> SCALE).toMap
    (1 to iters).foreach { _ =>
      val s = e.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / out(u) }.sum).toMap
      r = nodes.map(n => n -> (BASE + 85L * s.getOrElse(n, 0L) / 100L)).toMap
    }
    r
  }

  private def runPr(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graph.pageRank(edges.toDF("u", "v"), col("u"), col("v"), iters)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap

  test("pageRank hand cases: cycle is uniform; star hub collects, leaves get BASE") {
    val SCALE = 1000000000000L
    val BASE = 15L * SCALE / 100L
    // 4-cycle: out-degree 1 everywhere, perfectly symmetric → every round
    // keeps all ranks equal; with r_0 = SCALE the fixpoint is SCALE itself
    val cycle = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
    assert(runPr(cycle, 5).values.toSet === Set(SCALE))
    // star INTO the hub: leaves have no in-edges → BASE after round 1;
    // hub's round-2 value is BASE + 85 * (3 * BASE) / 100
    val star = Seq((1L, 0L), (2L, 0L), (3L, 0L))
    val got = runPr(star, 2)
    assert(got(1L) === BASE && got(2L) === BASE && got(3L) === BASE)
    assert(got(0L) === BASE + 85L * (3L * BASE) / 100L)
  }

  test("pageRank brute parity on a pseudo-random digraph, incl dup edges and dangling nodes") {
    val rnd = new scala.util.Random(23)
    // node 50 only ever appears as dst (dangling in-only), dups frequent
    val edges = (0 until 400).map { i =>
      if (i % 40 == 0) (rnd.nextInt(30).toLong, 50L)
      else (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)
    }.filter(p => p._1 != p._2)
    assert(runPr(edges, 6) === brutePr(edges, 6))
  }

  // ---- kCore: brute sequential peel (any schedule — confluence) ----

  private def bruteCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    val canon = edges.collect { case (u, v) if u != v =>
      (math.min(u, v), math.max(u, v))
    }.toSet
    var adj = canon.toSeq.flatMap(p => Seq(p._1 -> p._2, p._2 -> p._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var changed = true
    while (changed) { // ONE AT A TIME — confluence says it matches the
      adj.find(_._2.size < k) match { // engine's all-at-once rounds
        case Some((n, _)) =>
          adj = (adj - n).view.mapValues(_ - n).toMap
        case None => changed = false
      }
    }
    adj.map { case (n, s) => n -> s.size.toLong }
  }

  private def runCore(edges: Seq[(Long, Long)], k: Int,
                      maxRounds: Int = 32): Map[Long, Long] =
    Graph.kCore(edges.toDF("u", "v"), col("u"), col("v"), k, maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("kCore hand cases: path has no 2-core; triangle+tail keeps the triangle; K4 3-core") {
    // pure 9-vertex path: peels from both ends, 4 rounds — empty 2-core
    val path = (0L until 8L).map(i => (i, i + 1))
    assert(runCore(path, 2) === Map.empty)
    // triangle with a 3-vertex tail: tail unravels, triangle survives
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(runCore(tri, 2) === Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
    // K4 (+ a dangling spoke): 3-core is the K4 itself
    val k4 = (for { i <- 0L to 3L; j <- (i + 1) to 3L } yield (i, j)) :+ (3L, 9L)
    assert(runCore(k4, 3) === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // degenerate input: dups/reversals/self-loops collapse before peeling
    assert(runCore(Seq((1L, 2L), (2L, 1L), (1L, 1L)), 2) === Map.empty)
  }

  test("kCore raises instead of returning an unpeeled core when maxRounds is too small") {
    val path = (0L until 12L).map(i => (i, i + 1)) // needs 6 rounds
    val ex = intercept[IllegalArgumentException](runCore(path, 2, maxRounds = 3))
    assert(ex.getMessage.contains("did not converge"))
    // 6 peels plus the round that peels nothing: 7 rounds fit, 6 do not
    intercept[IllegalArgumentException](runCore(path, 2, maxRounds = 6))
    assert(runCore(path, 2, maxRounds = 7) === Map.empty)
  }

  test("kCore brute parity on pseudo-random multigraphs across k") {
    val rnd = new scala.util.Random(31)
    val edges = (0 until 300).map { _ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)
    } ++ (100L until 112L).map(i => (i, i + 1)) // dangling chain stressor
    for (k <- Seq(2, 3, 5, 8))
      assert(runCore(edges, k) === bruteCore(edges, k), s"k=$k")
  }

  // ---- labelPropagation --------------------------------------------------

  private def bruteLpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, (e._2, e._1))).distinct
    val nbrs = und.groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    var lbl = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      lbl = nbrs.map { case (n, ns) =>
        val counts = ns.map(lbl).groupBy(identity).map { case (l, v) => (l, v.size) }
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lbl
  }

  private def runLpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    import spark.implicits._
    Graph.labelPropagation(edges.toDF("u", "v"), col("u"), col("v"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("lpa: two cliques with one bridge settle on per-clique min labels") {
    val cliqueA = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val cliqueB = for (i <- 11L to 15L; j <- (i + 1) to 15L) yield (i, j)
    val edges = cliqueA ++ cliqueB ++ Seq((5L, 11L))
    val got = runLpa(edges, 4)
    assert((1L to 5L).forall(got(_) == 1L), s"clique A labels: $got")
    assert((11L to 15L).forall(got(_) == 11L), s"clique B labels: $got")
    assert(got === bruteLpa(edges, 4))
  }

  test("lpa: brute parity on a random graph across round counts (incl. parallel edges + self loops)") {
    val rnd = new scala.util.Random(606)
    val edges = (1 to 600).map(_ => (rnd.nextLong(80L), rnd.nextLong(80L)))
    for (rounds <- Seq(1, 3, 5))
      assert(runLpa(edges, rounds) === bruteLpa(edges, rounds), s"rounds=$rounds")
  }
}
