package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-metric totals of one job group. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var output = 0L; var inputRecords = 0L

  def +=(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    output += o.output; inputRecords += o.inputRecords
    this
  }
}

/** A timed interval reported by Spark: a job or a stage, tagged with the
  * job group that was set when it was submitted. Times are wall-clock ms.
  */
final case class SparkInterval(kind: String, id: Int, parentJob: Int, group: String,
                               startMs: Long, endMs: Long)

/** The benchmark's view of the `spark` layer: a SparkListener for jobs,
  * stages and task metrics, and a QueryExecutionListener for planning
  * time. Every event is attributed to the job group the benchmark set
  * before submitting the work; events arrive asynchronously, so readers
  * call [[org.apache.spark.PerfbenchBus.drain]] first.
  */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  private val byGroup = mutable.HashMap[String, Counters]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val jobStart = mutable.HashMap[Int, (String, Long)]()
  private val intervals = mutable.ArrayBuffer[SparkInterval]()
  private val planPhases = mutable.ArrayBuffer[(Long, Long)]()

  private def counters(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach { s => stageGroup(s) = g; stageJob(s) = e.jobId }
    jobStart(e.jobId) = (g, e.time)
    counters(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      intervals += SparkInterval("job", e.jobId, -1, g, t0, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val g = stageGroup.getOrElse(info.stageId, "")
    counters(g).stages += 1
    for (t0 <- info.submissionTime; t1 <- info.completionTime)
      intervals += SparkInterval("stage", info.stageId, stageJob.getOrElse(info.stageId, -1), g, t0, t1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.output += m.outputMetrics.bytesWritten
      c.inputRecords += m.inputMetrics.recordsRead
    }
  }

  private def recordPlan(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.values.foreach(p => planPhases += ((p.startTimeMs, p.endTimeMs - p.startTimeMs)))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = recordPlan(qe)

  /** Totals over every group whose name starts with `prefix`. */
  def total(prefix: String): Counters = synchronized {
    val acc = new Counters
    byGroup.foreach { case (g, c) => if (g.startsWith(prefix)) acc += c }
    acc
  }

  /** Planning milliseconds whose phase began inside [t0Ms, t1Ms]. */
  def planMs(t0Ms: Long, t1Ms: Long): Long = synchronized {
    planPhases.iterator.collect { case (s, d) if s >= t0Ms && s <= t1Ms => d }.sum
  }

  def sparkIntervals: Seq[SparkInterval] = synchronized(intervals.toList)
}
