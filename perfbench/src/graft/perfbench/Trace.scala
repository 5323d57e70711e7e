package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Command
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters, read as deltas around each op.
  *
  * The untraced run (`full = false`) keeps only the task output-bytes
  * counter that `write_amp` needs; the traced run also counts jobs, stages,
  * tasks, shuffle and spill bytes, Catalyst phase times, and broadcast
  * builds and written files in executed plans, and records job and task intervals so idle
  * time (job time no task covers) can be computed per op. Every callback
  * runs on the listener-bus thread; readers call [[mark]], which drains
  * the bus first. */
final class Trace(spark: SparkSession, val full: Boolean) extends SparkListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val jobIv = ArrayBuffer.empty[(Long, Long)]
  private val taskIv = ArrayBuffer.empty[(Long, Long)]

  final case class Mark(c: Map[String, Double], jobs: Int, tasks: Int)

  spark.sparkContext.addSparkListener(this)
  if (full) spark.listenerManager.register(new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  })

  private def record(qe: QueryExecution): Unit = synchronized {
    c("executions") += 1
    qe.tracker.phases.foreach { case (phase, s) => c(s"${phase}_ms") += s.durationMs }
    qe.logical match {
      case cmd: Command if cmd.toString.contains("graft-scratch-") => c("scratch_layouts") += 1
      case _ => ()
    }
    walk(qe.executedPlan)
  }

  /** Broadcast builds and written files in an executed plan, looking
    * through adaptive-execution stages and command wrappers (a reused
    * broadcast is not a build and is not counted). */
  private def walk(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case s: QueryStageExec => walk(s.plan)
    case r: CommandResultExec => walk(r.commandPhysicalPlan)
    case w: DataWritingCommandExec =>
      w.cmd.metrics.get("numFiles").foreach(m => c("files_written") += m.value)
      walk(w.child)
    case b: BroadcastExchangeExec => c("broadcast_builds") += 1; walk(b.child)
    case other => other.children.foreach(walk)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (full) synchronized {
    c("jobs") += 1
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (full) synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobIv += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (full) synchronized { c("stages") += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) c("output_bytes") += m.outputMetrics.bytesWritten
    if (full) {
      val i = e.taskInfo
      c("tasks") += 1
      c("task_busy_ms") += i.finishTime - i.launchTime
      taskIv += ((i.launchTime, i.finishTime))
      if (m != null) {
        c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
        c("input_bytes") += m.inputMetrics.bytesRead
      }
    }
  }

  def mark(): Mark = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    synchronized { Mark(c.toMap, jobIv.size, taskIv.size) }
  }

  /** Counter deltas since `m`, plus `idle_ms`: the length of the union of
    * job intervals not covered by the union of task intervals. */
  def since(m: Mark): Map[String, Double] = {
    val now = mark()
    val d = now.c.map { case (k, v) => k -> (v - m.c.getOrElse(k, 0.0)) }
    val idle = synchronized {
      val jobs = Trace.union(jobIv.slice(m.jobs, now.jobs).toSeq)
      val tasks = Trace.union(taskIv.slice(m.tasks, now.tasks).toSeq)
      Trace.length(jobs) - Trace.overlap(jobs, tasks)
    }
    d + ("idle_ms" -> idle.toDouble)
  }
}

object Trace {
  def union(iv: Seq[(Long, Long)]): Vector[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse.toVector

  def length(iv: Seq[(Long, Long)]): Long = iv.map { case (a, b) => b - a }.sum

  /** Total overlap of two sorted, disjoint interval lists. */
  def overlap(x: Vector[(Long, Long)], y: Vector[(Long, Long)]): Long = {
    var (i, j, sum) = (0, 0, 0L)
    while (i < x.size && j < y.size) {
      val lo = math.max(x(i)._1, y(j)._1)
      val hi = math.min(x(i)._2, y(j)._2)
      if (hi > lo) sum += hi - lo
      if (x(i)._2 < y(j)._2) i += 1 else j += 1
    }
    sum
  }
}
