package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Census of one final physical plan (adaptive plans after execution,
  * query stages and subqueries included).
  */
final case class Census(
    exchanges: Long = 0, reusedExchanges: Long = 0, broadcasts: Long = 0,
    objectSerde: Long = 0, objectAggs: Long = 0, nestedLoopJoins: Long = 0,
    operators: Long = 0, codegenOperators: Long = 0, filesWritten: Long = 0,
    tables: Set[String] = Set.empty) {
  def +(o: Census): Census = Census(
    exchanges + o.exchanges, reusedExchanges + o.reusedExchanges,
    broadcasts + o.broadcasts, objectSerde + o.objectSerde,
    objectAggs + o.objectAggs, nestedLoopJoins + o.nestedLoopJoins,
    operators + o.operators, codegenOperators + o.codegenOperators,
    filesWritten + o.filesWritten, tables ++ o.tables)
}

object Census {

  /** Walks a plan. Wrappers (adaptive roots, query stages, codegen
    * and input adapters) are followed but not counted as operators; an
    * operator counts as compiled when its nearest wrapper above it is a
    * whole-stage-codegen node.
    */
  def of(plan: SparkPlan): Census = {
    var c = Census()
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = {
      p.subqueries.foreach(walk(_, inCodegen = false))
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen = false)
        case s: QueryStageExec => walk(s.plan, inCodegen = false)
        case w: WholeStageCodegenExec => w.children.foreach(walk(_, inCodegen = true))
        case i: InputAdapter => i.children.foreach(walk(_, inCodegen = false))
        case r: ReusedExchangeExec =>
          c = c.copy(reusedExchanges = c.reusedExchanges + 1)
        case _ =>
          c = c.copy(operators = c.operators + 1,
            codegenOperators = c.codegenOperators + (if (inCodegen) 1 else 0))
          p match {
            case _: ShuffleExchangeLike => c = c.copy(exchanges = c.exchanges + 1)
            case _: BroadcastExchangeLike => c = c.copy(broadcasts = c.broadcasts + 1)
            case _: DeserializeToObjectExec | _: SerializeFromObjectExec =>
              c = c.copy(objectSerde = c.objectSerde + 1)
            case _: ObjectHashAggregateExec | _: SortAggregateExec =>
              c = c.copy(objectAggs = c.objectAggs + 1)
            case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec =>
              c = c.copy(nestedLoopJoins = c.nestedLoopJoins + 1)
            case f: FileSourceScanExec =>
              c = c.copy(tables = c.tables ++ f.relation.location.rootPaths.map(_.getName))
            case d: DataWritingCommandExec =>
              c = c.copy(filesWritten = c.filesWritten +
                d.metrics.get("numFiles").map(_.value).getOrElse(0L))
            case _ =>
          }
          p.children.foreach(walk(_, inCodegen))
      }
    }
    walk(plan, inCodegen = false)
    c
  }
}

/** Counters summed over the tasks, stages and jobs of one span. */
final class SpanCounters {
  var jobs, stages, tasks, taskRetries = 0L
  var taskMs, cpuNs, gcMs, fetchWaitMs = 0L
  var inputBytes, inputRows, outputBytes, outputRows = 0L
  var shuffleWriteBytes, shuffleReadBytes, shuffleRecords = 0L
  var spillBytes = 0L
  var stragglerMs = 0L
  var planMs = 0L
  var census = Census()
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val moduleJobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val moduleTaskMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
}

/** Listener pair that attributes Spark's own accounting to the
  * benchmark's spans. The harness names the active span in a
  * SparkContext local property ([[Tracer.SpanKey]]); jobs and stages
  * carry it and tasks inherit it from their stage. Query executions
  * reported to the QueryExecutionListener are placed in the span whose
  * wall interval holds the end of their planning.
  *
  * Events arrive on Spark's listener bus, asynchronously; the harness
  * reads the result only after the SparkContext stopped, which drains
  * the bus.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[Int, Stage]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val taskCounters = mutable.Map.empty[String, SpanCounters]
  private val executionSites = mutable.Map.empty[Long, String]
  private val executions = mutable.ArrayBuffer.empty[Execution]
  private val driverSpans = mutable.ArrayBuffer.empty[(String, Long, Long)]

  @volatile private var endMs = Long.MaxValue

  private def counters(span: String): SpanCounters =
    taskCounters.getOrElseUpdate(span, new SpanCounters)

  /** Ignore work that starts from now on (the listeners stay registered;
    * removing them could drop events still queued on the bus).
    */
  def stop(): Unit = endMs = System.currentTimeMillis()

  /** Record a leaf span's wall interval (epoch ms); query executions are
    * placed in spans by it.
    */
  def driverSpan(name: String, startMs: Long, endMs: Long): Unit = synchronized {
    driverSpans += ((name, startMs, endMs))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (e.time <= endMs) synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanKey))).getOrElse(Unspanned)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, span, exec, site, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (e.stageInfo.submissionTime.forall(_ <= endMs)) synchronized {
      val id = e.stageInfo.stageId
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .getOrElse(Unspanned)
      stages(id) = Stage(span, stageJob.getOrElse(id, -1))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stages.get(id).foreach { st =>
      val c = counters(st.span)
      c.stages += 1
      stageTaskMs.remove(id).filter(_.nonEmpty).foreach { ms =>
        val s = ms.sorted
        c.stragglerMs += s.last - s((s.length - 1) / 2)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach(taskEnd(e, _))
  }

  private def taskEnd(e: SparkListenerTaskEnd, st: Stage): Unit = {
    val c = counters(st.span)
    val info = e.taskInfo
    c.tasks += 1
    if (info.attemptNumber > 0 || info.speculative || e.reason != Success) c.taskRetries += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRows += m.outputMetrics.recordsWritten
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.memoryBytesSpilled
      c.moduleTaskMs(moduleOf(st.job)) += m.executorRunTime
      if (e.reason == Success)
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if s.time <= endMs => synchronized {
      executionSites(s.executionId) = s.details
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    // planning ends right before execution, on the driver, inside the
    // span that ran the action
    val plannedAt = if (phases.isEmpty) -1L else phases.map(_.endTimeMs).max
    if (plannedAt <= endMs) {
      val census = Census.of(qe.executedPlan)
      synchronized { executions += Execution(census, phases.map(_.durationMs).sum, plannedAt) }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

  private def moduleOf(jobId: Int): String = jobs.get(jobId) match {
    case Some(j) => Attribution.attribute(j.executionId.flatMap(executionSites.get),
      Some(j.site))
    case None => Attribution.Default
  }

  /** Per-span counters; call after the SparkContext stopped. */
  def result(): Map[String, SpanCounters] = synchronized {
    for (j <- jobs.values) {
      val c = counters(j.span)
      c.jobs += 1
      c.moduleJobs(moduleOf(j.id)) += 1
      if (j.end >= j.start) c.jobIntervals += ((j.start, j.end))
    }
    for (ex <- executions) {
      val t = ex.plannedAt
      val span = driverSpans.collectFirst { case (n, s, e) if s <= t && t <= e => n }
        .getOrElse(Unspanned)
      val c = counters(span)
      c.census = c.census + ex.plan
      c.planMs += ex.planMs
    }
    taskCounters.toMap
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Unspanned = "unspanned"

  private final case class Job(id: Int, span: String, executionId: Option[Long],
                               site: String, start: Long, var end: Long = -1L)
  private final case class Stage(span: String, job: Int)
  private final case class Execution(plan: Census, planMs: Long, plannedAt: Long)
}
