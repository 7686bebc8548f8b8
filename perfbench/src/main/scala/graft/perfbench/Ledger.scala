package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters of one job group: everything the scheduler and
  * Catalyst did on behalf of one call the benchmark made. */
final class GroupStats {
  var jobs, stages, tasks, executions = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes, outputBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  /** (start, end) epoch millis of each finished job. */
  val jobSpans = ArrayBuffer[(Long, Long)]()
  /** Duration in millis of each finished task. */
  val taskMs = ArrayBuffer[Long]()
}

/** Traced runs only: a SparkListener plus a QueryExecutionListener that
  * bin every job, stage, task and query execution into the job group the
  * benchmark set around the call that caused it.
  *
  * Jobs carry their group in their properties (`setJobGroup` is
  * inherited by the threads Spark SQL starts for broadcasts and
  * subqueries). Query-execution callbacks carry none, so they go to the
  * group that is open when they arrive: the harness drains the bus
  * before it opens the next group, which makes that attribution exact
  * for a single closed-loop client. */
final class Ledger(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc: SparkContext = spark.sparkContext
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  @volatile private var open: String = null

  private def g(group: String): GroupStats =
    groups.computeIfAbsent(if (group == null) "-" else group, _ => new GroupStats)

  def attach(): Unit = { sc.addSparkListener(this); spark.listenerManager.register(this) }
  def detach(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(this); spark.listenerManager.unregister(this)
  }

  /** Run `body` under job group `group`, then wait until the bus has
    * delivered every event it caused. */
  def within[T](group: String)(body: => T): T = {
    open = group
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      PerfbenchBus.drain(sc)
      open = null
    }
  }

  def stats(group: String): GroupStats = g(group)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobStart.put(e.jobId, (group, e.time))
    e.stageIds.foreach(id => if (group != null) stageGroup.put(id, group))
    val s = g(group); s.synchronized { s.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (group, t0) =>
      val s = g(group); s.synchronized { s.jobSpans += ((t0, e.time)) }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = g(stageGroup.get(e.stageInfo.stageId)); s.synchronized { s.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = g(stageGroup.get(e.stageId))
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      s.taskMs += e.taskInfo.duration
      if (m != null) {
        s.taskRunMs += m.executorRunTime
        s.taskCpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Catalyst phase times of a DataFrame the harness built but did not
    * execute itself (its execution is a separate write command). */
  def record(group: String, qe: QueryExecution): Unit = phases(g(group), qe, executed = false)

  private def phases(s: GroupStats, qe: QueryExecution, executed: Boolean): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    s.synchronized {
      if (executed) s.executions += 1
      s.analysisMs += ms("analysis")
      s.optimizationMs += ms("optimization")
      s.planningMs += ms("planning")
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(g(open), qe, executed = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(g(open), qe, executed = true)
}

object Ledger {
  /** Millis inside [t0, t1] covered by no job span. */
  def idleMs(spans: Iterable[(Long, Long)], t0: Long, t1: Long): Long = {
    var covered = 0L
    var reach = t0
    for ((a, b) <- spans.toSeq.sortBy(_._1)) {
      val lo = math.max(a, reach); val hi = math.min(b, t1)
      if (hi > lo) { covered += hi - lo; reach = hi }
    }
    math.max(0L, (t1 - t0) - covered)
  }
}
