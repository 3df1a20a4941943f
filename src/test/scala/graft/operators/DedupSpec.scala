package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.TextHash

/** Dedup operators vs in-JVM brute force over the shared TextHash kernels. */
class DedupSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  // deterministic corpus: base docs + planted near-dups + exact dups
  private val docs: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val base = (0L until 40L).map { i =>
      i -> Seq.fill(30 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val nearDups = base.take(6).map { case (i, t) =>
      (100L + i) -> (t.split(" ").toSeq.updated(3, "CHANGED").mkString(" "))
    }
    val exactDups = base.slice(6, 9).map { case (i, t) => (200L + i) -> t }
    base ++ nearDups ++ exactDups
  }

  private def ngramSet(t: String, n: Int): Set[String] =
    t.split("\\s+").filter(_.nonEmpty).sliding(n).filter(_.length == n)
      .map(_.mkString(" ")).toSet

  private def bruteJaccard(n: Int, thr: Double): Set[(Long, Long, Double)] =
    (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      ga = ngramSet(ta, n); gb = ngramSet(tb, n) if ga.nonEmpty && gb.nonEmpty
      c = (ga intersect gb).size
      j = c.toDouble / (ga.size + gb.size - c).toDouble if j >= thr
    } yield (ia, ib, j)).toSet

  test("exact dedup groups identical texts under min id") {
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.exactDedup(df, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === docs.size - 3) // 3 exact dups folded
    val dupGroups = got.filter(_._3 == 2L)
    assert(dupGroups.length === 3)
    assert(dupGroups.forall { case (_, canon, _) => canon >= 6L && canon <= 8L })
    // hash groups agree with the shared kernel
    val byHash = docs.groupBy { case (_, t) => TextHash.charHash64(t) }
    assert(got.length === byHash.size)
  }

  test("ngram jaccard pairs equal brute force") {
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(df, col("doc_id"), col("text"), 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === bruteJaccard(3, 0.5))
    assert(got.size >= 9) // 6 near-dups + 3 exact dups at least
  }

  test("minhash LSH pairs: no false positives, full recall on this corpus") {
    // this corpus has pairs down to J≈0.8 ⇒ use 16 bands × 2 rows
    // (miss prob (1−J²)^16 ≈ 8e-8); the q45 default (8×4) targets J≥0.9 dups
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.minhashLshPairs(df, col("doc_id"), col("text"), 3, 0.5, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === bruteJaccard(3, 0.5))
  }

  test("simhash pairs: band pigeonhole finds every pair with hamming <= 3") {
    val df = docs.toDF("doc_id", "text")
    val sims = docs.map { case (i, t) =>
      i -> {
        val toks = t.split("\\s+").filter(_.nonEmpty)
        TextHash.simhash64(toks.map(TextHash.charHash), toks.map(TextHash.charHash2))
      }
    }.toMap
    val expect = (for {
      (ia, _) <- docs; (ib, _) <- docs if ia < ib
      h = TextHash.hamming(sims(ia), sims(ib)) if h <= 3
    } yield (ia, ib, h)).toSet
    val got = Dedup.simhashPairs(df, col("doc_id"), col("text"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === expect)
    assert(expect.nonEmpty) // exact dups guarantee hamming-0 pairs
  }

  test("dupClusters: connected components over pairs, min-id labels") {
    import spark.implicits._
    // two chains + one triangle + isolated pair: components known exactly
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L), (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L))
      .toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L, 33L -> 30L, 34L -> 30L)
    assert(got === expect)
  }

  test("dupClusters: long chain converges via pointer-doubling shortcut") {
    import spark.implicits._
    // a 200-link path graph: plain min-label propagation needs 200 rounds;
    // the shortcut halves chain depth per round so it must finish well
    // inside the default maxRounds (round-2 verdict hazard: unconverged
    // labels returned silently)
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length === 201)
    assert(got.forall(_._2 == 0L), "every node labels to the chain minimum")
    // a maxRounds too small to converge must RAISE, not return wrong labels
    val e = intercept[IllegalArgumentException] {
      Dedup.dupClusters(chain, maxRounds = 2).collect()
    }
    assert(e.getMessage.contains("converge"))
    // an edge set that is already a star only needs the confirming round
    val star = Seq((1L, 2L), (3L, 1L), (1L, 4L)).toDF("id_a", "id_b")
    assert(Dedup.dupClusters(star, maxRounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("cross-corpus LSH near-dup: batch x corpus pairs equal brute force, no self pairs") {
    // batch = the planted near-dups + exact dups (ids >= 100), corpus = base
    val (batch, corpus) = docs.partition(_._1 >= 100L)
    val got = Dedup.minhashLshPairsCross(
        batch.toDF("doc_id", "text"), col("doc_id"), col("text"),
        corpus.toDF("doc_id", "text"), col("doc_id"), col("text"),
        n = 3, threshold = 0.5, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expect = (for {
      (ia, ta) <- batch; (ib, tb) <- corpus
      ga = ngramSet(ta, 3); gb = ngramSet(tb, 3) if ga.nonEmpty && gb.nonEmpty
      c = (ga intersect gb).size
      j = c.toDouble / (ga.size + gb.size - c).toDouble if j >= 0.5
    } yield (ia, ib, j)).toSet
    assert(got === expect)
    // every planted batch doc must hit its base twin (ids 100..105 -> 0..5,
    // 206..208 exact copies of 6..8)
    assert((0L until 6L).forall(i => got.exists(p => p._1 == 100L + i && p._2 == i)))
    assert((6L until 9L).forall(i => got.exists(p => p._1 == 200L + i && p._2 == i)))
    // id_a strictly from the batch side
    assert(got.forall(_._1 >= 100L))
  }

  test("decontaminate: exact shared-shingle counts vs brute force, bench side broadcast") {
    // benchmark = the 6 planted near-dups (ids 100..105) — each is near-copy
    // of a corpus doc, so contamination is guaranteed; plus brute-force
    // parity over ALL (corpus, bench) pairs at minHits=2
    val (bench, corpus) = docs.partition(_._1 >= 100L)
    val got = Dedup.decontaminate(
        corpus.toDF("doc_id", "text"), col("doc_id"), col("text"),
        bench.toDF("doc_id", "text"), col("doc_id"), col("text"),
        n = 3, minHits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expect = (for {
      (ic, tc) <- corpus; (ib, tb) <- bench
      c = (ngramSet(tc, 3) intersect ngramSet(tb, 3)).size if c >= 2
    } yield (ic, ib, c.toLong)).toSet
    assert(got === expect)
    // every near-dup source doc (0..5) must be flagged against its copy
    assert((0L until 6L).forall(i => got.exists(h => h._1 == i && h._2 == 100L + i)))
    // plan: bench side broadcast — corpus shingles must NOT sort-merge
    val s = Dedup.decontaminate(
      corpus.toDF("doc_id", "text"), col("doc_id"), col("text"),
      bench.toDF("doc_id", "text"), col("doc_id"), col("text"), 3, 2)
      .queryExecution.executedPlan.toString
    assert(s.contains("BroadcastHashJoin"), s.take(500))
    assert(!s.contains("SortMergeJoin"), s.take(500))
    // past the broadcast ceiling: identical rows via the shuffled-hash path
    val gotBig = Dedup.decontaminate(
        corpus.toDF("doc_id", "text"), col("doc_id"), col("text"),
        bench.toDF("doc_id", "text"), col("doc_id"), col("text"),
        n = 3, minHits = 2, maxBroadcastBenchShingles = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotBig === expect)
  }

  test("hammingPairs: exact vs brute force over planted 64-bit hashes, string ids") {
    import spark.implicits._
    // 20 base hashes spread over the full 64-bit range (sign bit exercised),
    // each with planted perturbations at hamming 1..5; maxDist=3 must keep
    // exactly the <=3 pairs
    val rnd = new scala.util.Random(11)
    val rows: Seq[(String, Long)] = (0 until 20).flatMap { g =>
      val base = rnd.nextLong()
      Seq(s"img${g}_0" -> base,
        s"img${g}_1" -> (base ^ 1L),
        s"img${g}_2" -> (base ^ (1L << 63) ^ (1L << 30)),
        s"img${g}_5" -> (base ^ 0x1FL << 40))
    }
    val got = Dedup.hammingPairs(rows.toDF("id", "h"), col("id"), col("h"),
        maxDist = 3, bits = 64)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val expect = (for {
      (ia, ha) <- rows; (ib, hb) <- rows if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d)).toSet
    assert(got === expect)
    assert(expect.exists(_._3 == 1) && expect.exists(_._3 == 3))
    // the hamming-5 rows pair with nothing in their group at maxDist 3
    assert(!got.exists(p => p._1.endsWith("_5") || p._2.endsWith("_5")))
  }

  test("leakage-safe split: every near-dup pair shares a split; singletons self-cluster") {
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(df, col("doc_id"), col("text"), 3, 0.5)
    val split = TextAnalysis.leakageSafeSplit(df, col("doc_id"), pairs, "split-v1")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(split.size === docs.size)
    // no leakage: both endpoints of every true near-dup pair share cluster AND split
    for ((a, b, _) <- bruteJaccard(3, 0.5)) {
      assert(split(a)._1 === split(b)._1, s"pair ($a,$b) split across clusters")
      assert(split(a)._2 === split(b)._2, s"pair ($a,$b) leaked across splits")
    }
    // singletons keep their own id as cluster and the plain hash-bucket split
    val pairedIds = bruteJaccard(3, 0.5).flatMap(p => Seq(p._1, p._2))
    val singleton = docs.map(_._1).find(i => !pairedIds.contains(i)).get
    assert(split(singleton)._1 === singleton)
    // empty pair set (a fully-unique corpus): everyone self-clusters
    val none = TextAnalysis.leakageSafeSplit(df, col("doc_id"),
        pairs.limit(0), "split-v1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(none.size === docs.size && none.forall { case (d, c) => d == c })
  }

  // ---- substring-level dedup (Lee et al. 2022 semantics) ----

  /** Brute-force reference: windows by STRING identity, first occurrence in
    * (doc_id, pos) order survives, merged spans via linear scan.
    */
  private def bruteSubstring(corpus: Seq[(Long, String)], L: Int)
      : (Map[Long, (Long, Long, Long)], Map[Long, String]) = {
    val toks = corpus.map { case (id, t) => id -> t.split("\\s+").filter(_.nonEmpty).toVector }
    val occ = for {
      (id, tv) <- toks if tv.length >= L
      p <- 1 to (tv.length - L + 1)
    } yield (tv.slice(p - 1, p + L - 1).mkString(" "), id, p)
    val marks = occ.groupBy(_._1).values.filter(_.size >= 2)
      .flatMap(os => os.sortBy(o => (o._2, o._3)).tail).map(o => (o._2, o._3))
      .toSeq.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val stats = marks.map { case (id, ps) =>
      var spans = 0L; var dupTok = 0L
      var s = -1000; var prev = -1000
      def close(e: Int): Unit = if (s > 0) { spans += 1; dupTok += e + L - s }
      ps.foreach { p =>
        if (p - prev > L) { close(prev); s = p }
        prev = p
      }
      close(prev)
      id -> (spans, dupTok, ps.size.toLong)
    }
    val cleaned = toks.map { case (id, tv) =>
      val ps = marks.getOrElse(id, Seq.empty)
      val covered = ps.flatMap(p => p until (p + L)).toSet
      id -> tv.zipWithIndex.collect { case (t, i) if !covered.contains(i + 1) => t }.mkString(" ")
    }.toMap
    (stats, cleaned)
  }

  private val subDocs: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(13)
    val vocab = Vector("ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen",
      "ibis", "jay", "kiwi", "lynx", "mole", "newt", "owl", "pug")
    // unique bases — 16-word vocab, 40-60 tokens: window collisions by
    // chance are possible; plant GUARANTEED dups on top
    val base = (0L until 20L).map { i =>
      i -> Seq.fill(40 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val passage = base(0)._2.split(" ").slice(5, 21).mkString(" ") // 16 tokens of doc 0
    val boiler = "COPYRIGHT notice ALL rights RESERVED by THE publisher XX"   // 9 tokens
    Seq(
      100L -> s"$passage trailing words here",                  // copies doc0's passage
      101L -> s"prefix words $boiler suffix ${base(1)._2}",     // boilerplate + unique
      102L -> s"other start $boiler tail end ${base(2)._2}",    // boilerplate again
      103L -> (base(3)._2 + " " + base(3)._2),                  // SELF-repetition
      104L -> "short doc under window",                         // < L tokens
    ) ++ base
  }

  test("substring dedup: spans/stats/cleaned text equal string-identity brute force") {
    val L = 8
    val df = subDocs.toDF("doc_id", "text")
    val (wantStats, wantClean) = bruteSubstring(subDocs, L)
    val gotStats = Dedup.substringDupSpans(df, col("doc_id"), col("text"), L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(gotStats === wantStats)
    // the planted shapes are actually exercised
    assert(gotStats.contains(100L), "copied passage doc must be marked")
    assert(gotStats.contains(102L) || gotStats.contains(101L), "boilerplate repeat marked")
    assert(gotStats.contains(103L), "self-repetition marked (second copy)")
    assert(!gotStats.contains(104L), "sub-window doc can't be marked")
    assert(gotStats.contains(0L) === wantStats.contains(0L)) // first-occurrence rule
    val gotClean = Dedup.dedupSubstrings(df, col("doc_id"), col("text"), L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotClean === wantClean)
    // no content lost corpus-wide: every marked window's text still exists
    // somewhere (its first occurrence)
    val allCleanTok = gotClean.values.flatMap(_.split(" ")).filter(_.nonEmpty).toSet
    assert(subDocs.flatMap(_._2.split("\\s+")).filter(_.nonEmpty).toSet === allCleanTok)
  }

  test("near-dup plans contain no cartesian or nested-loop joins") {
    val df = docs.toDF("doc_id", "text")
    for (plan <- Seq(
        Dedup.ngramJaccardPairs(df, col("doc_id"), col("text"), 3, 0.5),
        Dedup.minhashLshPairs(df, col("doc_id"), col("text"), 3, 0.5),
        Dedup.simhashPairs(df, col("doc_id"), col("text"), 3))) {
      val s = plan.queryExecution.executedPlan.toString
      assert(!s.contains("CartesianProduct"), s.take(500))
      assert(!s.contains("BroadcastNestedLoopJoin"), s.take(500))
    }
  }

  test("prefix filter stays exact at a low threshold (large prefixes)") {
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(df, col("doc_id"), col("text"), 2, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exp = (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      ga = ngramSet(ta, 2); gb = ngramSet(tb, 2) if ga.nonEmpty && gb.nonEmpty
      c = (ga intersect gb).size
      j = c.toDouble / (ga.size + gb.size - c).toDouble if j >= 0.3
    } yield (ia, ib, j)).toSet
    assert(got === exp)
  }

  test("segmentDedup: keep-first across docs, within-doc dups, trailing short segment") {
    import spark.implicits._
    // n=2 segments: doc1 = [a b][c d][e] ; doc2 = [a b][a b][x y]
    // keep-first in (doc_id, seg_no) order: doc1 keeps all 3; both of
    // doc2's "a b" segments are later copies of doc1's seg0 → only [x y]
    // survives in doc2.
    val df = Seq((1L, "a b c d e"), (2L, "a b a b x y"), (3L, "")) // empty doc excluded
      .toDF("doc_id", "text")
    val got = Dedup.segmentDedup(df, col("doc_id"), col("text"), n = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got === Map(
      1L -> ((3L, 3L, "a b c d e")),
      2L -> ((3L, 1L, "x y"))))
  }

  test("segmentDedup: within-one-doc keep-first and full-doc-duplicate wipeout") {
    import spark.implicits._
    val df = Seq(
      (5L, "p q r s p q r s"),  // segs (n=4): [p q r s][p q r s] → keeps first
      (9L, "p q r s")           // exact copy of the kept segment, later id → wiped
    ).toDF("doc_id", "text")
    val got = Dedup.segmentDedup(df, col("doc_id"), col("text"), n = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got === Map(
      5L -> ((2L, 1L, "p q r s")),
      9L -> ((1L, 0L, ""))))
  }

  test("geoHammingPairs: brute parity, each pair exactly once, both gates bite") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0L until 300L).map { i =>
      (i, rnd.nextLong(20000000L) - 10000000L,
        rnd.nextLong(16000000L) - 8000000L, rnd.nextLong() & 0xffL)
    }
    val r = 1500000L
    val got = Dedup.geoHammingPairs(rows.toDF("id", "lon", "lat", "h"),
        col("id"), col("lon"), col("lat"), col("h"),
        radiusMicro = r, level = 9, maxDist = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2), x.getLong(3)))
    assert(got.length === got.distinct.length, "a pair was produced twice")
    val all = for {
      a <- rows; b <- rows if a._1 < b._1
      d2 = (b._2 - a._2) * (b._2 - a._2) + (b._3 - a._3) * (b._3 - a._3)
      hm = java.lang.Long.bitCount(a._4 ^ b._4)
    } yield (a._1, b._1, hm, d2, d2 <= r * r, hm <= 1)
    val want = all.filter(p => p._5 && p._6).map(p => (p._1, p._2, p._3, p._4))
    assert(got.toSet === want.toSet)
    assert(want.nonEmpty, "fixture must produce pairs")
    // both gates must exclude something the other admits
    assert(all.count(p => p._5 && !p._6) > 0, "hamming gate never fired")
    assert(all.count(p => !p._5 && p._6) > 0, "spatial gate never fired")
  }

  test("bloomNew: sound (never returns a member), near-complete on the new side") {
    import spark.implicits._
    val corpus = (0L until 400L).map(i => (i, s"member text number $i"))
      .toDF("doc_id", "text")
    val batch = ((0L until 400L).map(i => (i, s"member text number $i")) ++
      (1000L until 1400L).map(i => (i, s"fresh text number $i")))
      .toDF("doc_id", "text")
    val defNew = Dedup.bloomNew(corpus, col("text"), batch, col("doc_id"),
      col("text"), expectedCorpusKeys = 400L)
      .collect().map(_.getLong(0)).toSet
    // soundness: no member id ever marked definitely-new
    assert(defNew.forall(_ >= 1000L))
    // completeness: >= 95% of truly-new rows pass (theory ~4e-4 FP withholding)
    assert(defNew.size >= 380, s"only ${defNew.size}/400 new rows passed")
  }
}
