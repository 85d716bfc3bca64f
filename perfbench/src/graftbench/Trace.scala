package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side accounting of one span (one step of one pass, or one
  * streaming query): every job whose job group is the span's name,
  * and every task of those jobs' stages. */
final class SpanStats {
  var jobs = 0
  var tasks = 0
  var failedTasks = 0
  var taskS = 0.0
  var cpuS = 0.0
  var gcS = 0.0
  var maxTaskS = 0.0
  var shuffleBytes = 0L
  var spillBytes = 0L
  var rowsRead = 0L
  var bytesRead = 0L
  var broadcastJoins = 0
  var shuffleJoins = 0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

object SpanStats {
  /** Milliseconds of [t0, t1] covered by the union of `iv`. */
  def covered(iv: Iterable[(Long, Long)], t0: Long, t1: Long): Long = {
    var end = t0
    var sum = 0L
    iv.map { case (a, b) => (a.max(t0), b.min(t1)) }.filter(x => x._2 > x._1)
      .toSeq.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { sum += b - a.max(end); end = b }
      }
    sum
  }
}

/** A SparkListener plus a QueryExecutionListener that attribute jobs,
  * tasks and executed plans to the job group active when they ran.
  * Installed only in traced passes; [[take]] drains the listener bus
  * first so a span's numbers are complete. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val groups = mutable.Map.empty[String, SpanStats]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  // executed-plan joins since the last take(): the bus delivers an
  // action's plan before take() returns from its drain, and spans run
  // one at a time, so they belong to the span being taken
  private var pendingBroadcast = 0
  private var pendingShuffle = 0

  private def stats(g: String): SpanStats = groups.getOrElseUpdate(g, new SpanStats)

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def remove(): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def take(group: String): SpanStats = {
    BenchBus.drain(spark.sparkContext)
    synchronized {
      val s = groups.remove(group).getOrElse(new SpanStats)
      s.broadcastJoins += pendingBroadcast
      s.shuffleJoins += pendingShuffle
      pendingBroadcast = 0
      pendingShuffle = 0
      s
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    jobStart(e.jobId) = (g, e.time)
    stats(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) => stats(g).jobIntervals += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageGroup.getOrElse(e.stageId, ""))
    val info = e.taskInfo
    s.tasks += 1
    if (info.failed || info.killed) s.failedTasks += 1
    s.taskIntervals += ((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      val run = m.executorRunTime / 1e3
      s.taskS += run
      s.maxTaskS = s.maxTaskS.max(run)
      s.cpuS += m.executorCpuTime / 1e9
      s.gcS += m.jvmGCTime / 1e3
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.rowsRead += m.inputMetrics.recordsRead
      s.bytesRead += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val (b, sh) = Tracer.joins(qe.executedPlan)
    synchronized {
      pendingBroadcast += b
      pendingShuffle += sh
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer extends AdaptiveSparkPlanHelper {
  /** (broadcast, shuffle) join operators in a physical plan, looking
    * through adaptive query stages to the plan that actually ran. */
  def joins(plan: SparkPlan): (Int, Int) = {
    val names = collectWithSubqueries(plan) { case p => p.nodeName }
    (names.count(n => n == "BroadcastHashJoin" || n == "BroadcastNestedLoopJoin"),
     names.count(n => n == "SortMergeJoin" || n == "ShuffledHashJoin" || n == "CartesianProduct"))
  }
}
