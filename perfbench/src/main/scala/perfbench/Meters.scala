package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Job groups the harness sets around each phase of a job:
  * `pb|<job>|<phase>`. Both listeners key their counts on it. */
object Group {
  val Prefix = "pb|"
  def apply(job: String, phase: String): String = s"$Prefix$job|$phase"
}

/** Task-level counts summed over every Spark job of one job group. */
final class TaskCounts {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, shuffleWrite, shuffleRead, spill, inputBytes, inputRows = 0L
  var peakMem = 0L
}

/** A Spark job seen by the listener, for the trace. */
final case class SparkJobSpan(group: String, jobId: Int, startMs: Long, endMs: Long)

/** SparkListener that attributes jobs, stages and task metrics to the
  * harness's job groups. Events arrive on the listener-bus thread; the
  * harness reads only after [[org.apache.spark.PerfbenchBus.drain]]. */
final class TaskMeter extends SparkListener {
  @volatile var on = false
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val counts = mutable.Map.empty[String, TaskCounts]
  private val spans = mutable.ArrayBuffer.empty[SparkJobSpan]

  private def acc(g: String) = counts.getOrElseUpdate(g, new TaskCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (on && g != null && g.startsWith(Group.Prefix)) {
      jobGroup(e.jobId) = g
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageGroup(_) = g)
      acc(g).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { g =>
      spans += SparkJobSpan(g, e.jobId, jobStart.remove(e.jobId).getOrElse(e.time), e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = acc(g)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRows += m.inputMetrics.recordsRead
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
    }
  }

  /** Removes and returns the counts of one group (empty if none ran). */
  def take(g: String): TaskCounts = synchronized(counts.remove(g).getOrElse(new TaskCounts))

  def takeSpans(): Seq[SparkJobSpan] = synchronized {
    val s = spans.toList
    spans.clear()
    s
  }
}

/** Catalyst and scan counts of the queries one job ran. */
final class PlanCounts {
  var analysisMs, optimizationMs, planningMs = 0L
  var topk, exchanges, broadcasts = 0L
  var broadcastBuildMs, scanMs, filesRead = 0L
}

/** QueryExecutionListener that keeps each finished query of a job (the
  * `noop` write and every construction query) until the harness folds
  * them into [[PlanCounts]]. */
final class PlanMeter extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  @volatile var on = false
  private val done = mutable.ArrayBuffer.empty[QueryExecution]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) synchronized { done += qe }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    if (on) synchronized { done += qe }

  def clear(): Unit = synchronized(done.clear())

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Folds the queries finished since the last call, plus `own` (the
    * job's frame, whose planning the harness forced), into one count. */
  def take(own: Option[QueryExecution]): PlanCounts = {
    val qes = synchronized { val q = done.toList; done.clear(); q }
    val c = new PlanCounts
    (own.toList ++ qes).foreach { qe =>
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
    }
    qes.foreach { qe =>
      collectWithSubqueries(qe.executedPlan) { case p => p }.foreach { p =>
        val cls = p.getClass.getSimpleName
        if (cls.contains("TopKPerGroup")) c.topk += 1
        p match {
          case b: BroadcastExchangeLike =>
            c.broadcasts += 1
            c.broadcastBuildMs += metric(b, "collectTime") + metric(b, "buildTime")
          case _: ShuffleExchangeLike => c.exchanges += 1
          case _ =>
        }
        if (cls.contains("Scan")) {
          c.scanMs += metric(p, "scanTime")
          c.filesRead += metric(p, "numFiles")
        }
      }
    }
    c
  }
}
