package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer accounting of one op (or one operator stage of a corpus batch).
  * Times are milliseconds, sizes bytes. Filled from the listener events of
  * the jobs that ran under the op's job group.
  */
final class OpAcc {
  var jobs, stages, tasks = 0L
  var taskMs, cpuMs, gcMs, deserMs, delayMs = 0L
  var peakMem = 0L
  var scanBytes, scanRows = 0L
  var shWrite, shRead, fetchWaitMs, spillMem, spillDisk = 0L
  var outBytes, outRows = 0L
  var planMs = 0L
  var exchanges, sorts = 0L
  var queries = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Length of the union of half-open intervals. */
  private def covered(spans: Seq[(Long, Long)]): Long = {
    var total, end = 0L
    var started = false
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (!started || s > end) { total += e - s; end = e; started = true }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }
  def jobMs: Long = covered(jobSpans.toSeq)
  /** Epoch ms at which the op's first job started (0 without jobs). */
  def firstJob: Long = if (jobSpans.isEmpty) 0L else jobSpans.map(_._1).min
  /** Job wall time during which no task of the op was running. */
  def idleMs: Long = math.max(0L, jobMs - covered(taskSpans.toSeq))

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "job_ms" -> jobMs, "idle_ms" -> idleMs, "delay_ms" -> delayMs,
    "task_ms" -> taskMs, "cpu_ms" -> cpuMs, "gc_ms" -> gcMs, "deser_ms" -> deserMs,
    "peak_mem" -> peakMem, "scan_bytes" -> scanBytes, "scan_rows" -> scanRows,
    "sh_write" -> shWrite, "sh_read" -> shRead, "fetch_wait_ms" -> fetchWaitMs,
    "spill_mem" -> spillMem, "spill_disk" -> spillDisk,
    "out_bytes" -> outBytes, "out_rows" -> outRows,
    "plan_ms" -> planMs, "exchanges" -> exchanges, "sorts" -> sorts, "queries" -> queries,
    "first_job" -> firstJob)
}

/** SparkListener + QueryExecutionListener registered by the benchmark from
  * outside the library. Jobs are attributed to ops through the job group the
  * driver sets around each op; query executions arrive without a group, so
  * the driver drains the listener bus after every op and assigns what
  * arrived to the op that just ran (the loop is closed: one op at a time).
  */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val accs = new ConcurrentHashMap[String, OpAcc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val pendingQe = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()

  private def acc(group: String): OpAcc = accs.computeIfAbsent(group, _ => new OpAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      val a = acc(group)
      a.synchronized { a.jobs += 1 }
      jobGroup.put(e.jobId, group)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageGroup.put(s, group))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { group =>
      val start = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
      val a = acc(group)
      a.synchronized { a.jobSpans += ((start, e.time)) }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val a = acc(g); a.synchronized { a.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val a = acc(g)
      val i = e.taskInfo
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        a.taskSpans += ((i.launchTime, i.finishTime))
        if (m != null) {
          a.taskMs += m.executorRunTime
          a.cpuMs += m.executorCpuTime / 1000000L
          a.gcMs += m.jvmGCTime
          a.deserMs += m.executorDeserializeTime
          a.delayMs += math.max(0L, (i.finishTime - i.launchTime) - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
          a.scanBytes += m.inputMetrics.bytesRead
          a.scanRows += m.inputMetrics.recordsRead
          a.shWrite += m.shuffleWriteMetrics.bytesWritten
          a.shRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spillMem += m.memoryBytesSpilled
          a.spillDisk += m.diskBytesSpilled
          a.outBytes += m.outputMetrics.bytesWritten
          a.outRows += m.outputMetrics.recordsWritten
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    pendingQe.add(qe); ()
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
    pendingQe.add(qe); ()
  }

  /** Wait for every event of the finished op, then return its accounting. */
  def collect(group: String): OpAcc = {
    org.apache.spark.graftbench.BusShim.drain(spark.sparkContext)
    val a = Option(accs.remove(group)).getOrElse(new OpAcc)
    var qe = pendingQe.poll()
    while (qe != null) {
      a.queries += 1
      a.planMs += qe.tracker.phases.values.map(_.durationMs).sum
      val plan = qe.executedPlan
      a.exchanges += Trace.count(plan) {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      }
      a.sorts += Trace.count(plan) { case _: SortExec => true }
      qe = pendingQe.poll()
    }
    a
  }

  /** Drop anything recorded so far (set-up and warm-up jobs). */
  def reset(): Unit = {
    org.apache.spark.graftbench.BusShim.drain(spark.sparkContext)
    accs.clear(); pendingQe.clear()
  }
}

object Trace extends AdaptiveSparkPlanHelper {
  def install(spark: SparkSession): Trace = {
    val t = new Trace(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  /** Nodes of the final (post-AQE) physical plan matching `pf`, subqueries
    * included. */
  def count(plan: SparkPlan)(pf: PartialFunction[SparkPlan, Boolean]): Long =
    collectWithSubqueries(plan) { case p if pf.isDefinedAt(p) && pf(p) => 1L }.sum
}
