package graft.perfbench

import scala.collection.mutable

/** One span: a named interval at a layer boundary. `parent` is -1 for a
  * root. Times are nanoseconds on the tracer's clock.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String, startNs: Long, endNs: Long)

/** In-memory span recorder for the traced run. Spans are recorded around
  * the benchmark's own calls into each layer (workload, pass, query or
  * ladder rung, layer call); Spark jobs and stages are attached afterwards
  * through the job group each layer call runs under. Nothing is written
  * until [[json]] is called at the end of the run.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** Pairs the wall clock Spark reports with this tracer's nano clock. */
  private val wall0Ms = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** job group -> span that submitted it */
  private val groupSpan = mutable.HashMap[String, Int]()
  /** Recording can be paused so that traced and untraced passes alternate. */
  var active: Boolean = enabled

  def current: Int = stack.headOption.getOrElse(-1)

  def apply[T](name: String, layer: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId; nextId += 1
      val parent = current
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, layer, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Remember that jobs of `group` belong to the innermost open span. */
  def bindGroup(group: String): Unit = if (active) groupSpan(group) = current

  private def toNs(ms: Long): Long = nano0 + (ms - wall0Ms) * 1000000L

  /** Bench spans plus job and stage spans reconstructed from Spark's
    * intervals; jobs hang under the span that set their group, stages under
    * their job.
    */
  def allSpans(spark: Seq[SparkInterval]): Seq[Span] = {
    var id = nextId
    val jobIds = mutable.HashMap[Int, Int]()
    val jobs = spark.filter(_.kind == "job").flatMap { j =>
      groupSpan.get(j.group).map { p =>
        val s = Span(id, p, s"job ${j.id}", "spark.job", toNs(j.startMs), toNs(j.endMs))
        jobIds(j.id) = id; id += 1; s
      }
    }
    val stages = spark.filter(_.kind == "stage").flatMap { st =>
      jobIds.get(st.parentJob).map { p =>
        val s = Span(id, p, s"stage ${st.id}", "spark.stage", toNs(st.startMs), toNs(st.endMs))
        id += 1; s
      }
    }
    spans.toList ++ jobs ++ stages
  }

  /** Self time per layer in seconds: each span's duration minus the part
    * of it covered by its children.
    */
  def selfByLayer(all: Seq[Span]): Map[String, Double] = {
    val children = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val cs = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter(c => c._2 > c._1).sortBy(_._1)
        var covered = 0L; var end = Long.MinValue
        cs.foreach { case (a, b) =>
          val from = math.max(a, end)
          if (b > from) covered += b - from
          end = math.max(end, b)
        }
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def json(all: Seq[Span]): String = all.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
      s""""start_ns":${s.startNs - nano0},"end_ns":${s.endNs - nano0}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
