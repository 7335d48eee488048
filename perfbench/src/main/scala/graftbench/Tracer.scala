package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** A timed interval at a layer boundary. Times are epoch milliseconds;
  * `op` is the id shared by every span of one operation. `parent` is 0 for
  * an op's root span and -1 until a listener span has been linked. */
final case class Span(id: Long, var parent: Long, op: String, name: String,
                      start: Double, end: Double)

/** What the listeners counted for one operation. */
final class OpStats {
  var executions = 0
  var jobs = 0
  var checkpointJobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var busyMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakTaskMem = 0L
  var analysisMs = 0.0
  var optimizationMs = 0.0
  var planningMs = 0.0
  var exchanges = 0
}

/** In-memory spans and per-op counters, fed by the client threads (op
  * boundaries) and by [[BenchListener]] (SQL executions with their Catalyst
  * phases and executed plans, jobs, stages, tasks). Listener events are
  * attributed to an op through the job description and job tag the client
  * thread sets before it builds the op's DataFrame. Nothing here is written
  * until the run ends. */
object Tracer {
  @volatile var enabled = false
  val TagPrefix = "graftbench-op-"

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val opRoot = new java.util.concurrent.ConcurrentHashMap[String, Span]()
  private val known = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // listener-side state, touched only under `this` lock
  private val execOp = mutable.Map[Long, String]()
  private val execRoot = mutable.Map[Long, Boolean]()
  private val execStart = mutable.Map[Long, Long]()
  private val execSpan = mutable.Map[Long, Span]()
  private val jobOp = mutable.Map[Int, String]()
  private val jobExec = mutable.Map[Int, Long]()
  private val jobStart = mutable.Map[Int, Long]()
  private val jobSpan = mutable.Map[Int, Span]()
  private val stageOp = mutable.Map[Int, String]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageSpans = mutable.ArrayBuffer[(Span, Int)]()
  private val stats = mutable.Map[String, OpStats]()
  private val plans = mutable.Map[Long, (Map[String, (Long, Long)], Int)]()

  def nowMs: Double = System.currentTimeMillis().toDouble +
    (System.nanoTime() % 1000000L) / 1e6

  def span(parent: Long, op: String, name: String, start: Double, end: Double): Span = {
    val s = Span(ids.incrementAndGet(), parent, op, name, start, end)
    if (enabled) {
      spans.add(s)
      if (name == "op") opRoot.put(op, s)
    }
    s
  }

  /** Marks `op` as traced before its first job can start. */
  def beginOp(op: String): Unit = if (enabled) known.add(op)

  private def statsOf(op: String): OpStats = stats.getOrElseUpdate(op, new OpStats)
  private def opOfProps(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.job.description")))
      .filter(known.contains)

  private[graftbench] def onExecStart(e: SparkListenerSQLExecutionStart): Unit = synchronized {
    e.jobTags.find(_.startsWith(TagPrefix)).map(_.stripPrefix(TagPrefix)).foreach { op =>
      execOp(e.executionId) = op
      execRoot(e.executionId) = e.rootExecutionId.forall(_ == e.executionId)
      execStart(e.executionId) = e.time
    }
  }
  private[graftbench] def onExecEnd(e: SparkListenerSQLExecutionEnd): Unit = {
    val plan = org.apache.spark.sql.BenchSqlBridge.queryExecution(e).map { qe =>
      (qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) },
        PlanWalk.exchanges(qe.executedPlan))
    }
    synchronized {
      for (op <- execOp.get(e.executionId); st <- execStart.get(e.executionId)) {
        if (execRoot(e.executionId)) statsOf(op).executions += 1
        execSpan(e.executionId) = span(-1L, op, "sql", st.toDouble, e.time.toDouble)
        plan.foreach(p => plans(e.executionId) = p)
      }
    }
  }
  private[graftbench] def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOfProps(e.properties).foreach { op =>
      jobOp(e.jobId) = op
      jobStart(e.jobId) = e.time
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(x => jobExec(e.jobId) = x.toLong)
      val st = statsOf(op)
      st.jobs += 1
      // a stage's name is the call site of the action that made its job
      if (e.stageInfos.exists(_.name.toLowerCase.contains("checkpoint"))) st.checkpointJobs += 1
      e.stageIds.foreach { s => stageOp(s) = op; stageJob(s) = e.jobId }
    }
  }
  private[graftbench] def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (op <- jobOp.get(e.jobId); st <- jobStart.get(e.jobId))
      jobSpan(e.jobId) = span(-1L, op, "job", st.toDouble, e.time.toDouble)
  }
  private[graftbench] def onStage(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOp.get(info.stageId).foreach { op =>
      statsOf(op).stages += 1
      for (a <- info.submissionTime; b <- info.completionTime)
        stageSpans += (span(-1L, op, "stage", a.toDouble, b.toDouble) -> info.stageId)
    }
  }
  private[graftbench] def onTask(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val st = statsOf(op)
      st.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) st.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        st.busyMs += m.executorRunTime
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.spillBytes += m.diskBytesSpilled
        st.peakTaskMem = math.max(st.peakTaskMem, m.peakExecutionMemory)
      }
    }
  }

  /** Folds the Catalyst figures into their ops and links listener spans
    * to their parents. Call after draining the listener bus. */
  def resolve(): Unit = synchronized {
    plans.foreach { case (execId, (phases, ex)) =>
      execOp.get(execId).foreach { op =>
        val st = statsOf(op)
        def ms(k: String) = phases.get(k).map { case (a, b) => (b - a).toDouble }.getOrElse(0.0)
        st.analysisMs += ms("analysis")
        st.optimizationMs += ms("optimization")
        st.planningMs += ms("planning")
        st.exchanges += ex
        val parent = execSpan.get(execId).map(_.id).getOrElse(-1L)
        phases.foreach { case (k, (a, b)) => span(parent, op, s"plans.$k", a.toDouble, b.toDouble) }
      }
    }
    plans.clear()
    jobSpan.foreach { case (job, s) =>
      jobExec.get(job).flatMap(execSpan.get).foreach(e => s.parent = e.id)
    }
    stageSpans.foreach { case (s, stage) =>
      stageJob.get(stage).flatMap(jobSpan.get).foreach(j => s.parent = j.id)
    }
    // spans still unparented hang under the op-boundary span around them
    val byOp = spans.asScala.groupBy(_.op)
    spans.asScala.foreach { s =>
      if (s.parent < 0L) {
        val siblings = byOp.getOrElse(s.op, Nil)
          .filter(c => c.name.startsWith("op.") && c.start <= s.start && s.start <= c.end)
        s.parent = siblings.headOption.orElse(Option(opRoot.get(s.op))).map(_.id).getOrElse(0L)
      }
    }
  }

  def statsFor(op: String): OpStats = synchronized(stats.getOrElse(op, new OpStats))
  def allSpans: Seq[Span] = spans.asScala.toSeq
}

object PlanWalk extends AdaptiveSparkPlanHelper {
  /** Shuffle exchanges in the executed plan, AQE stages and subqueries
    * included; a reused exchange does no work and is not counted. */
  def exchanges(p: SparkPlan): Int =
    collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }.size
}

/** Registered on each SparkContext of a traced run; it sees the loop
  * operators' companion sessions too, since they share the context. */
final class BenchListener extends SparkListener {
  override def onOtherEvent(event: SparkListenerEvent): Unit = if (Tracer.enabled) event match {
    case e: SparkListenerSQLExecutionStart => Tracer.onExecStart(e)
    case e: SparkListenerSQLExecutionEnd => Tracer.onExecEnd(e)
    case _ =>
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = if (Tracer.enabled) Tracer.onJobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (Tracer.enabled) Tracer.onJobEnd(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (Tracer.enabled) Tracer.onStage(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Tracer.enabled) Tracer.onTask(e)
}

