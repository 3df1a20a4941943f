package graft.perfbench

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a result: row count and the two 32-bit
  * halves of each row's xxhash64, summed (the halves keep the sums clear of
  * ANSI overflow).
  */
final case class Digest(rows: Long, lo: Long, hi: Long) {
  def times(k: Long): Digest = Digest(rows * k, lo * k, hi * k)
  override def toString: String = s"rows=$rows lo=$lo hi=$hi"
}

object Digest {
  /** Hashable view of a column: map types cannot be hashed, so they are
    * hashed through their JSON text.
    */
  private def hashable(f: StructField): Column = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(x => hasMap(x.dataType))
      case _ => false
    }
    if (hasMap(f.dataType)) to_json(struct(col(f.name))) else col(f.name)
  }

  def columns(df: DataFrame): Seq[Column] = {
    val h = xxhash64(df.schema.fields.toSeq.map(hashable): _*)
    Seq(count(lit(1)).as("rows"),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
  }

  def of(m: Map[String, Any]): Digest =
    Digest(m("rows").asInstanceOf[Long], m("lo").asInstanceOf[Long], m("hi").asInstanceOf[Long])
}

/** One workload: the items of a pass, and how to build each one afresh. */
trait Workload {
  /** Items of one pass, in this run's order. */
  def items: Seq[String]
  /** Layer whose public entry point builds the item. */
  def layerOf(item: String): String
  /** Builds a fresh DataFrame for the item; may itself run jobs. */
  def build(spark: SparkSession, item: String): DataFrame
  /** Expected digest from an in-process reference, where there is one. */
  def expected(item: String): Option[Digest] = None
  /** Input rows of one pass when the workload knows them exactly. */
  def inputRows: Option[Long] = None
}

sealed trait Sink
case object Noop extends Sink
final case class ParquetSink(dir: String) extends Sink

final case class ItemRun(item: String, seconds: Double, digest: Option[Digest],
                         error: Option[String], group: String, cachedBytes: Long) {
  var tasks: Long = 0L
  var counters: Counters = new Counters
  var failed: Boolean = error.isDefined
}

final case class PassRun(label: String, cores: Int, seconds: Double, items: Seq[ItemRun],
                         counters: Counters, planMs: Long, heapBytes: Long, traced: Boolean) {
  def failed: Boolean = items.exists(_.failed)
}

/** Sessions, passes and checks shared by every workload. */
final class Harness(val workDir: String, val nproc: Int, val tracer: Tracer) {
  var attempted = 0
  val failures = mutable.ArrayBuffer[String]()
  /** item -> (ops attempted, ops failed) */
  val opsByItem = mutable.LinkedHashMap[String, (Int, Int)]()
  private var groupSeq = 0

  def failed: Int = opsByItem.values.map(_._2).sum

  def session(cores: Int): (SparkSession, SparkProbe) = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // same plan at every core count: shuffle width is the host's, not the session's
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // the flagship lists its base table once per replica; list on the driver,
      // not in a Spark job, as a single path would be
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "256")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new SparkProbe
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
    (spark, probe)
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum

  /** Builds the item afresh and materialises every row into `sink`,
    * taking the digest with `Dataset.observe` while the rows flow.
    */
  def runItem(spark: SparkSession, w: Workload, item: String, sink: Sink): ItemRun = {
    val sc = spark.sparkContext
    groupSeq += 1
    val group = s"g$groupSeq/"
    val t0 = System.nanoTime()
    val res = tracer(item, "item") {
      try {
        sc.setJobGroup(group + "build", item, interruptOnCancel = false)
        val df = tracer(item, w.layerOf(item)) { tracer.bindGroup(group + "build"); w.build(spark, item) }
        sc.setJobGroup(group + "sink", item, interruptOnCancel = false)
        val obs = Observation(s"digest_$groupSeq")
        val cols = Digest.columns(df)
        val observed = df.observe(obs, cols.head, cols.tail: _*)
        tracer("materialize", "spark.driver") {
          tracer.bindGroup(group + "sink")
          sink match {
            case Noop => observed.write.format("noop").mode("overwrite").save()
            case ParquetSink(dir) => observed.write.mode("overwrite").parquet(s"$dir/$item.parquet")
          }
        }
        (Some(Digest.of(Await.result(obs.future, 120.seconds).getValuesMap[Any](Seq("rows", "lo", "hi")))), None)
      } catch {
        case e: Throwable =>
          (None, Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
      } finally sc.clearJobGroup()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    ItemRun(item, secs, res._1, res._2, group, storageBytes(spark))
  }

  /** One pass over every item of the workload. After the pass (outside
    * its timing) the listener bus is drained, the heap is sampled after a
    * full GC, and per-item task counts are attached.
    */
  def runPass(spark: SparkSession, probe: SparkProbe, w: Workload, label: String, cores: Int,
              sink: Sink, traced: Boolean): PassRun = {
    tracer.active = tracer.enabled && traced
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val items = tracer(label, "pass") { w.items.map(i => runItem(spark, w, i, sink)) }
    val secs = (System.nanoTime() - t0) / 1e9
    val wall1 = System.currentTimeMillis()
    tracer.active = false
    PerfbenchBus.drain(spark.sparkContext)
    val total = new Counters
    items.foreach { r =>
      r.counters = probe.total(r.group)
      r.tasks = r.counters.tasks
      total += r.counters
    }
    System.gc()
    val rt = Runtime.getRuntime
    PassRun(label, cores, secs, items, total, probe.planMs(wall0, wall1),
      rt.totalMemory() - rt.freeMemory(), traced)
  }

  /** Counts each item of the pass as one operation; it fails if it threw,
    * if its digest differs from the expected one, or if it ran fewer tasks
    * than the same item in the session's reference pass (a sign that Spark
    * reused earlier results instead of recomputing them).
    */
  def check(pass: PassRun, reference: Option[PassRun], expected: String => Option[Digest]): Unit =
    pass.items.foreach { r =>
      attempted += 1
      r.error.foreach(e => failures += s"${pass.label} ${r.item}: $e")
      expected(r.item).foreach { want =>
        if (r.digest.exists(_ != want)) {
          r.failed = true
          failures += s"${pass.label} ${r.item}: digest ${r.digest.get} != expected $want"
        }
      }
      reference.flatMap(_.items.find(_.item == r.item)).foreach { ref =>
        if (r.error.isEmpty && r.tasks < ref.tasks) {
          r.failed = true
          failures += s"${pass.label} ${r.item}: ran ${r.tasks} tasks, reference pass ran ${ref.tasks}"
        }
      }
      val (a, f) = opsByItem.getOrElse(r.item, (0, 0))
      opsByItem(r.item) = (a + 1, f + (if (r.failed) 1 else 0))
    }

  /** Timed passes until `budgetS` seconds have gone and at least
    * `minPasses` passes have run. Without a warm-up `reference`, the first
    * pass is the reference: a fresh session cannot reuse earlier results.
    */
  def timedPasses(spark: SparkSession, probe: SparkProbe, w: Workload, cores: Int,
                  budgetS: Double, minPasses: Int, reference: Option[PassRun],
                  expected: String => Option[Digest], traceWhen: Int => Boolean): Seq[PassRun] = {
    val out = mutable.ArrayBuffer[PassRun]()
    val t0 = System.nanoTime()
    while (out.size < minPasses || (System.nanoTime() - t0) / 1e9 < budgetS) {
      val p = runPass(spark, probe, w, s"${cores}c-pass${out.size + 1}", cores, Noop, traceWhen(out.size))
      check(p, reference.orElse(out.headOption), expected)
      out += p
    }
    out.toSeq
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** (steal, busy) jiffies from /proc/stat; (0, 0) where unreadable. */
  def cpuJiffies(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val l = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (l.length > 7) l(7) else 0L, l(0) + l(1) + l(2))
    } finally src.close()
  } catch { case _: Throwable => (0L, 0L) }
}
