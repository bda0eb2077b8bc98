package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Job and stage records of traced passes, taken from a SparkListener
  * outside the engine. Each job carries the span tag the runner set as
  * a local property before the phase that launched it (broadcast and
  * subquery threads inherit it); jobs without one are matched to their
  * phase by time. */
final class Tracer extends SparkListener {
  final class StageRec(val id: Int, val name: String) {
    var submitMs = 0L
    var endMs = 0L
    var tasks = 0
    val durationsMs = mutable.ArrayBuffer.empty[Long]
    var runMs = 0L
    var gcMs = 0L
    var fetchWaitMs = 0L
    var schedWaitMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var bytesWritten = 0L
  }
  final class JobRec(val id: Int, val span: String, val startMs: Long,
                     val callSite: String, val stageIds: Seq[Int]) {
    var endMs = 0L
  }

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]

  private def stage(id: Int, name: String): StageRec =
    stages.getOrElseUpdate(id, new StageRec(id, name))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .getOrElse("")
    // the result stage has the highest id; its name is the job's call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    e.stageInfos.foreach(s => stage(s.stageId, s.name))
    jobs(e.jobId) = new JobRec(e.jobId, span, e.time, site, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId, e.stageInfo.name)
    s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId, e.stageInfo.name)
    s.endMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, "")
    val info = e.taskInfo
    s.tasks += 1
    s.durationsMs += info.duration
    if (s.submitMs > 0) s.schedWaitMs += math.max(0L, info.launchTime - s.submitMs)
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  /** Jobs and their stages as plain maps, for the run record. */
  def export(): (Seq[Map[String, Any]], Seq[Map[String, Any]]) = synchronized {
    val js = jobs.values.toSeq.map { j =>
      Map("id" -> j.id, "span" -> j.span, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "call_site" -> j.callSite, "stages" -> j.stageIds)
    }
    val ss = stages.values.toSeq.sortBy(_.id).filter(_.tasks > 0).map { s =>
      Map("id" -> s.id, "name" -> s.name, "submit_ms" -> s.submitMs,
        "end_ms" -> s.endMs, "tasks" -> s.tasks,
        "task_ms" -> s.durationsMs.toSeq, "run_ms" -> s.runMs, "gc_ms" -> s.gcMs,
        "fetch_wait_ms" -> s.fetchWaitMs, "sched_wait_ms" -> s.schedWaitMs,
        "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite,
        "spill" -> s.spill, "bytes_written" -> s.bytesWritten)
    }
    (js, ss)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Counts over physical plans, descending into adaptive query stages
  * and subqueries. */
object PlanStats extends AdaptiveSparkPlanHelper {
  def nodes(plan: SparkPlan): Int = collectWithSubqueries(plan) { case _ => 1 }.size

  def metricSum(plan: SparkPlan, metric: String): Long =
    collectWithSubqueries(plan) {
      case p if p.metrics.contains(metric) => p.metrics(metric).value
    }.sum
}
