package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchAccess
import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One traced interval. Times are epoch milliseconds; `parent` is the id of
  * the span that caused this one ("" for a root). */
final case class Span(id: String, parent: String, qid: String, layer: String,
                      name: String, startMs: Double, endMs: Double)

/** Per-query counters, filled from listener events of the query's job group.
  * Times are milliseconds (task CPU time nanoseconds). */
final class Counters {
  var jobs, buildJobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, deserMs, schedDelayMs, gcMs = 0L
  var peakMem, inputBytes, shuffleWrite, shuffleRead, fetchWaitMs, spillDisk = 0L
  var criticalMs, criticalExecMs, firstTaskWaitMs = 0L
  var exchanges, broadcasts, wscg, sinkScans = 0L
}

/** The traced run's collector: spans recorded around the harness's calls
  * (query, build, plan, exec) plus Spark job and stage spans and per-query
  * counters from a SparkListener keyed by the job group (the query id). All
  * state stays in memory until the run ends. */
final class Tracer(epochMs0: Long, nano0: Long) extends SparkListener {
  val spans = new ConcurrentLinkedQueue[Span]()
  val counters = new ConcurrentHashMap[String, Counters]()

  def ms(nano: Long): Double = epochMs0 + (nano - nano0) / 1e6

  def span(id: String, parent: String, qid: String, layer: String, name: String,
           startNano: Long, endNano: Long): Unit =
    spans.add(Span(id, parent, qid, layer, name, ms(startNano), ms(endNano)))

  def of(qid: String): Counters = counters.computeIfAbsent(qid, _ => new Counters)

  // Listener state below is touched only by the listener-bus thread.
  private final case class JobState(qid: String, phase: String, submitMs: Long,
                                    var firstLaunchMs: Long = Long.MaxValue)
  private val jobs = mutable.HashMap.empty[Int, JobState]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageMaxTaskMs = mutable.HashMap.empty[Int, Long]
  private val executionQid = mutable.HashMap.empty[Long, String]
  // job, stage and execution ids restart with every SparkContext
  @volatile private var sessionTag = "s0"

  /** Called before the listener joins a new session; the previous one has
    * stopped, so its events are all processed. */
  def startSession(tag: String): Unit = {
    sessionTag = tag
    jobs.clear(); stageJob.clear(); stageMaxTaskMs.clear(); executionQid.clear()
  }

  private def group(props: java.util.Properties, key: String): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(key)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    group(e.properties, "spark.jobGroup.id").foreach { qid =>
      val phase = group(e.properties, "perfbench.phase").getOrElse("exec")
      jobs(e.jobId) = JobState(qid, phase, e.time)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
      val c = of(qid)
      c.jobs += 1
      if (phase == "build") c.buildJobs += 1
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.remove(e.jobId).foreach { j =>
      spans.add(Span(s"$sessionTag-job${e.jobId}", s"${j.qid}/${j.phase}", j.qid, "exec.job",
        s"job ${e.jobId}", j.submitMs.toDouble, e.time.toDouble))
      if (j.firstLaunchMs != Long.MaxValue)
        of(j.qid).firstTaskWaitMs += j.firstLaunchMs - j.submitMs
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      val c = of(j.qid)
      val info = e.taskInfo
      val dur = info.finishTime - info.launchTime
      c.tasks += 1
      j.firstLaunchMs = math.min(j.firstLaunchMs, info.launchTime)
      stageMaxTaskMs(e.stageId) = math.max(stageMaxTaskMs.getOrElse(e.stageId, 0L), dur)
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.deserMs += m.executorDeserializeTime
        c.gcMs += m.jvmGCTime
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        c.schedDelayMs += math.max(0L, dur - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillDisk += m.diskBytesSpilled
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    for (jobId <- stageJob.get(si.stageId); j <- jobs.get(jobId)) {
      val c = of(j.qid)
      val crit = stageMaxTaskMs.remove(si.stageId).getOrElse(0L)
      c.stages += 1
      c.criticalMs += crit
      if (j.phase == "exec") c.criticalExecMs += crit
      for (s <- si.submissionTime; f <- si.completionTime)
        spans.add(Span(s"$sessionTag-stage${si.stageId}.${si.attemptNumber()}", s"$sessionTag-job$jobId",
          j.qid, "exec.stage", s"stage ${si.stageId}", s.toDouble, f.toDouble))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(q => executionQid(s.executionId) = q)
    case s: SparkListenerSQLExecutionEnd =>
      for (qid <- executionQid.remove(s.executionId);
           qe <- PerfbenchAccess.queryExecution(s))
        countPlan(of(qid), qe.executedPlan)
    case _ =>
  }

  /** Exchanges, broadcasts, whole-stage-codegen stages and scans of
    * substrate sink dirs (`graft_*`) in an executed plan, descending into adaptive plans, query stages and subqueries;
    * a reused exchange is not counted again. */
  private def countPlan(c: Counters, plan: SparkPlan): Unit = plan match {
    case a: AdaptiveSparkPlanExec => countPlan(c, a.executedPlan)
    case q: QueryStageExec => countPlan(c, q.plan)
    case _: ReusedExchangeExec =>
    case p =>
      p match {
        case _: ShuffleExchangeLike => c.exchanges += 1
        case _: BroadcastExchangeLike => c.broadcasts += 1
        case _: WholeStageCodegenExec => c.wscg += 1
        case f: FileSourceScanLike
            if f.relation.location.rootPaths.exists(_.getName.startsWith("graft_")) =>
          c.sinkScans += 1
        case _ =>
      }
      p.children.foreach(countPlan(c, _))
      p.subqueries.foreach(countPlan(c, _))
  }
}
