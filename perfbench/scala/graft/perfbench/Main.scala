package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, closed loop (one query at a time), at
  * local[nproc] and then at local[1] in a second session of the same
  * process. Writes `result.json` (and `trace.json` when traced) into the
  * work directory; `perfbench/run.py` checks it and prints the result.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --work DIR --data DIR --nproc C --t0-ms EPOCH_MS [--oracle-sql FILE]
  */
object Main {
  private val QueryWorkloads = Map("query_mix" -> Queries.Mix, "iterative" -> Queries.Iterative)

  /** Warm-up passes and the minimum of timed passes, per session. The JIT
    * keeps settling for several passes after the cold first one, and the
    * fixpoint loop of `iterative` settles slowest; query_mix, the most
    * expensive workload, gets one warm-up to stay within the run-time
    * budget. With the short `--seconds` of BENCHMARK.json these minimums
    * are the pass counts, so every run times the same passes.
    */
  private final case class Plan(warm4: Int, timed4: Int, warm1: Int, timed1: Int)
  private val Plans = Map(
    "flagship" -> Plan(warm4 = 2, timed4 = 5, warm1 = 1, timed1 = 2),
    "query_mix" -> Plan(warm4 = 1, timed4 = 2, warm1 = 0, timed1 = 2),
    "iterative" -> Plan(warm4 = 3, timed4 = 3, warm1 = 1, timed1 = 3))

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traceOn = a("trace") == "1"
    val work = a("work")
    val nproc = a("nproc").toInt
    val t0Ms = a("t0-ms").toLong
    require(Plans.contains(workload), s"unknown workload $workload")

    def mark(what: String): Unit = println(f"[perfbench] ${(System.currentTimeMillis() - t0Ms) / 1000.0}%.2f $what")
    val tracer = new Tracer(traceOn)
    val h = new Harness(work, nproc, tracer)
    val (steal0, busy0) = Stats.cpuJiffies()
    val setups = mutable.ArrayBuffer[Double]()
    val layer = mutable.LinkedHashMap[String, Double]()
    val extra = mutable.LinkedHashMap[String, String]()
    val lo = Flagship.idLow(seed)
    val passBudget = seconds / 2
    val plan = Plans(workload)
    val ladderOn = traceOn && workload == "flagship"

    val flagship = new Flagship(s"$work/images_base", lo)
    val queries = QueryWorkloads.get(workload).map(qs => new Queries(a("data"), qs, seed))
    val w: Workload = queries.getOrElse(flagship)
    val verifyDir = s"$work/verify"

    // ---- session at nproc cores
    mark("jvm up")
    val (spark4, probe4) = h.session(nproc)
    mark("session")
    var excluded = 0.0
    if (workload == "flagship") {
      excluded = flagship.generate(spark4)
      layer("fixtures.gen_s") = excluded
      flagship.computeReference(flagship.build(spark4, "flagship").schema)
    }
    val warm4 = h.runPass(spark4, probe4, w, s"${nproc}c-warmup1", nproc,
      if (queries.isDefined) ParquetSink(verifyDir) else Noop, traced = false)
    val expected: String => Option[Digest] =
      if (queries.isDefined) q => warm4.items.find(_.item == q).flatMap(_.digest)
      else flagship.expected
    h.check(warm4, None, if (queries.isDefined) _ => None else expected)
    val moreWarm4 = (2 to plan.warm4).map { i =>
      val p = h.runPass(spark4, probe4, w, s"${nproc}c-warmup$i", nproc, Noop, traced = false)
      h.check(p, Some(warm4), expected)
      p
    }
    setups += (System.currentTimeMillis() - t0Ms) / 1000.0 - excluded
    // a traced run alternates traced and untraced passes: their difference is the overhead
    val timed4 = h.timedPasses(spark4, probe4, w, nproc, passBudget, plan.timed4, Some(warm4), expected,
      traceWhen = i => i % 2 == 1)
    val ladder4 = if (ladderOn) ladderPasses(h, spark4, probe4, flagship, nproc, 2) else Nil
    val spans = tracer.allSpans(probe4.sparkIntervals)
    mark("timed4 done")
    h.stop(spark4)
    mark("stopped")

    // ---- second session at one core; without a warm-up pass its first
    // timed pass is the task-count reference
    val t1 = System.nanoTime()
    val (spark1, probe1) = h.session(1)
    val warm1 = (1 to plan.warm1).map { i =>
      val p = h.runPass(spark1, probe1, w, s"1c-warmup$i", 1, Noop, traced = false)
      h.check(p, None, expected)
      p
    }
    setups += (System.nanoTime() - t1) / 1e9
    val timed1 = h.timedPasses(spark1, probe1, w, 1, passBudget, plan.timed1, warm1.headOption, expected,
      traceWhen = _ => false)
    val ladder1 = if (ladderOn) ladderPasses(h, spark1, probe1, flagship, 1, 1) else Nil
    val allPasses = Seq(warm4) ++ moreWarm4 ++ timed4 ++ ladder4 ++ warm1 ++ timed1 ++ ladder1
    mark("timed1 done")
    h.stop(spark1)
    mark("stopped")

    // ---- end-to-end metrics (medians over passes that did not fail)
    def valid(ps: Seq[PassRun]): Seq[PassRun] = { val ok = ps.filterNot(_.failed); if (ok.nonEmpty) ok else ps }
    val v4 = valid(timed4); val v1 = valid(timed1)
    val passS = Stats.median(v4.map(_.seconds))
    val pass1S = Stats.median(v1.map(_.seconds))
    val rows = w.inputRows.getOrElse(Stats.median(v4.map(_.counters.inputRecords.toDouble)).toLong)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (Stats.median(setups.toSeq), "s"),
      "pass_s" -> (passS, "s"),
      "scaling_eff" -> (pass1S / (nproc * passS), "ratio"),
      "mrows_s" -> (rows / passS / 1e6, "Mrows/s"),
      "peak_heap_mb" -> (allPasses.map(_.heapBytes).max / 1048576.0, "MB"))

    // ---- per-layer metrics
    layer("pass_s_1c") = pass1S
    def med(ps: Seq[PassRun])(f: PassRun => Double): Double = Stats.median(ps.map(f))
    def sparkLayer(ps: Seq[PassRun], suffix: String, cores: Int): Unit = {
      val m = med(ps) _
      layer(s"spark.jobs$suffix") = m(_.counters.jobs.toDouble)
      layer(s"spark.stages$suffix") = m(_.counters.stages.toDouble)
      layer(s"spark.tasks$suffix") = m(_.counters.tasks.toDouble)
      layer(s"spark.task_run_s$suffix") = m(_.counters.runMs / 1e3)
      layer(s"spark.task_cpu_s$suffix") = m(_.counters.cpuNs / 1e9)
      layer(s"spark.off_cpu_frac$suffix") = m(p => 1.0 - p.counters.cpuNs / 1e6 / math.max(1L, p.counters.runMs))
      layer(s"spark.slot_idle_frac$suffix") = m(p => 1.0 - p.counters.runMs / 1e3 / (p.seconds * cores))
      layer(s"spark.gc_s$suffix") = m(_.counters.gcMs / 1e3)
      layer(s"spark.plan_ms$suffix") = m(_.planMs.toDouble)
      layer(s"spark.s_per_job$suffix") = m(p => p.seconds / math.max(1L, p.counters.jobs))
    }
    sparkLayer(v4, "", nproc)
    sparkLayer(v1, "_1c", 1)
    layer("spark.shuffle_write_mb") = med(v4)(_.counters.shuffleWrite / 1048576.0)
    layer("spark.shuffle_read_mb") = med(v4)(_.counters.shuffleRead / 1048576.0)
    layer("spark.spill_mb") = med(v4)(_.counters.spill / 1048576.0)
    layer("spark.output_mb") = med(v4)(_.counters.output / 1048576.0)
    layer("spark.cached_mb") = allPasses.flatMap(_.items.map(_.cachedBytes)).max / 1048576.0

    val allQueries = Queries.Mix ++ Queries.Iterative
    allQueries.foreach { case (q, _) =>
      val mine = v4.flatMap(_.items.find(_.item == q))
      layer(s"q.$q.s") = if (mine.isEmpty) 0.0 else Stats.median(mine.map(_.seconds))
      if (Queries.Writers.contains(q))
        layer(s"q.$q.output_mb") = if (mine.isEmpty) 0.0 else Stats.median(mine.map(_.counters.output / 1048576.0))
      if (Queries.Iterative.exists(_._1 == q))
        layer(s"q.$q.jobs") = if (mine.isEmpty) 0.0 else Stats.median(mine.map(_.counters.jobs.toDouble))
    }

    val (coverMs, raycast, decode) = if (traceOn) Kernels.measure(lo, Flagship.BaseRows) else (0.0, 0.0, 0.0)
    layer("core.cover_ms") = coverMs
    layer("core.raycast_mops") = raycast
    layer("core.phash_decode_mops") = decode

    val rungs4 = ladder4.flatMap(_.items); val rungs1 = ladder1.flatMap(_.items)
    def rungS(rs: Seq[ItemRun], r: String): Double = {
      val xs = rs.filter(_.item == r).map(_.seconds); if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    Ladder.Rungs.foreach { r =>
      val (s4, s1) = (rungS(rungs4, r), rungS(rungs1, r))
      layer(s"ladder.${r}_s") = s4
      layer(s"ladder.${r}_s_1c") = s1
      layer(s"ladder.$r.eff") = if (s4 > 0) s1 / (nproc * s4) else 0.0
    }
    def rungRows(r: String): Double = rungs4.find(_.item == r).flatMap(_.digest).map(_.rows.toDouble).getOrElse(0.0)
    layer("operators.candidates") = rungRows("probe")
    layer("operators.matches") = rungRows("refine")
    layer("operators.refine_ratio") = if (rungRows("probe") > 0) rungRows("refine") / rungRows("probe") else 0.0
    layer.getOrElseUpdate("fixtures.gen_s", 0.0)

    // self time per layer over the traced passes, and the tracing overhead
    val traced = v4.filter(_.traced); val untraced = v4.filterNot(_.traced)
    val self = tracer.selfByLayer(spans)
    Seq("pass", "item", "operators", "api", "filter", "sources", "plans", "streaming",
      "spark.driver", "spark.job", "spark.stage").foreach { l =>
      layer(s"self.$l.s") = if (traced.isEmpty) 0.0 else self.getOrElse(l, 0.0) / timed4.count(_.traced)
    }
    val tracedS = if (traced.nonEmpty) Stats.median(traced.map(_.seconds)) else 0.0
    val untracedS = if (untraced.nonEmpty) Stats.median(untraced.map(_.seconds)) else 0.0
    layer("trace.pass_s") = tracedS
    layer("trace.untraced_pass_s") = untracedS
    layer("trace.overhead_frac") = if (traceOn && untracedS > 0) tracedS / untracedS - 1.0 else 0.0

    val (steal1, busy1) = Stats.cpuJiffies()
    val dSteal = steal1 - steal0; val dBusy = busy1 - busy0
    layer("host.steal_pct") = if (dSteal + dBusy > 0) 100.0 * dSteal / (dSteal + dBusy) else 0.0
    layer("host.nproc") = nproc.toDouble
    layer("host.heap_max_mb") = Runtime.getRuntime.maxMemory() / 1048576.0
    if (traceOn) Files.writeString(Paths.get(s"$work/trace.json"), tracer.json(spans))

    queries.foreach { q =>
      extra("verify_dir") = Json.str(verifyDir)
      // the oracle SQL depends only on the library build, so the caller caches it
      a.get("oracle-sql").foreach { path =>
        Files.writeString(Paths.get(path), Json.obj(q.oracleSql.map { case (k, v) => k -> Json.str(v) }))
      }
    }
    val ops = h.opsByItem.map { case (k, (at, f)) => k -> s"[$at,$f]" }
    val out = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> h.attempted.toString,
      "failed" -> h.failed.toString,
      "ops" -> Json.obj(ops),
      "failures" -> h.failures.map(Json.str).mkString("[", ",", "]"),
      "end_to_end" -> Json.obj(e2e.map { case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "per_layer" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
      "passes" -> allPasses.map(p => Json.obj(Seq("label" -> Json.str(p.label), "s" -> Json.num(p.seconds),
        "tasks" -> p.counters.tasks.toString, "failed" -> p.failed.toString))).mkString("[", ",", "]")
    ) ++ extra)
    Files.writeString(Paths.get(s"$work/result.json"), out)
    mark("written")
  }

  private def ladderPasses(h: Harness, spark: SparkSession, probe: SparkProbe, f: Flagship,
                           cores: Int, reps: Int): Seq[PassRun] = {
    val ladder = new Ladder(f)
    (1 to reps).map { i =>
      val p = h.runPass(spark, probe, ladder, s"${cores}c-ladder$i", cores, Noop, traced = false)
      h.check(p, None, ladder.expected)
      p
    }
  }
}
