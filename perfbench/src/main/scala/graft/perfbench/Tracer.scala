package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Plan facts of every SQL execution an operation ran. */
final case class PlanFacts(exchanges: Int, codegenStages: Int,
    filesRead: Double, bytesRead: Double, scanMs: Double, joinRows: Double,
    writtenFiles: Double, writtenBytes: Double)

/** Per-layer measurement from outside the product, through Spark's public
  * listener APIs only. Every event is attributed to an operation by the
  * job group the harness set around it (streaming micro-batch jobs run
  * under the query's run id, which the harness aliases to its operation).
  * Nothing here is registered unless the run is traced. */
final class Tracer extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, schedMs = 0.0
    var shufWriteBytes, shufWriteNs, fetchWaitMs, spillDisk = 0.0
    var rowsRead, bytesRead = 0.0
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
    val execs = mutable.LinkedHashSet[Long]()
  }
  private val byGroup = mutable.Map[String, Acc]()
  private val jobGroup = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageGroup = mutable.Map[Int, String]()
  private val alias = mutable.Map[String, String]()
  private val plans = mutable.Map[Long, SparkPlanInfo]()
  private val accValue = mutable.Map[Long, Double]()
  @volatile private var lastEventNs = System.nanoTime()

  private def acc(g: String): Acc = byGroup.getOrElseUpdate(g, new Acc)
  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  def aliasGroup(from: String, to: String): Unit = synchronized { alias(from) = to }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val g = groupOf(e.properties)
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    val a = acc(g)
    a.jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => a.execs += id.toLong)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    jobGroup.get(e.jobId).foreach { g =>
      acc(g).jobSpans += ((jobStart.getOrElse(e.jobId, e.time), e.time))
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    lastEventNs = System.nanoTime()
    stageGroup(e.stageInfo.stageId) = groupOf(e.properties)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val si = e.stageInfo
    val a = acc(stageGroup.getOrElse(si.stageId, ""))
    a.stages += 1
    Option(si.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shufWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shufWriteNs += m.shuffleWriteMetrics.writeTime
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillDisk += m.diskBytesSpilled
      a.rowsRead += m.inputMetrics.recordsRead
      a.bytesRead += m.inputMetrics.bytesRead
    }
    // SQL metrics are accumulators; a stage reports each one's running
    // total, so the largest report is the metric's final value
    si.accumulables.values.foreach { ai =>
      ai.value.foreach {
        case n: java.lang.Number =>
          accValue(ai.id) = math.max(accValue.getOrElse(ai.id, 0.0), n.doubleValue())
        case _ =>
      }
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val a = acc(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    if (!e.taskInfo.successful) a.failedTasks += 1
    Option(e.taskMetrics).foreach { m =>
      // the scheduler-delay definition of Spark's own UI
      val gettingResult =
        if (e.taskInfo.gettingResultTime > 0)
          e.taskInfo.finishTime - e.taskInfo.gettingResultTime
        else 0L
      a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    lastEventNs = System.nanoTime()
    e match {
      case s: SparkListenerSQLExecutionStart => plans(s.executionId) = s.sparkPlanInfo
      case u: SparkListenerSQLAdaptiveExecutionUpdate => plans(u.executionId) = u.sparkPlanInfo
      // driver-side SQL metrics (files and bytes a scan planned to read)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) =>
          accValue(id) = math.max(accValue.getOrElse(id, 0.0), v.toDouble) }
      case _ =>
    }
  }

  /** Block until the listener bus has been quiet for `quietMs`. */
  def drain(quietMs: Long = 300, maxMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000
    while (System.nanoTime() - lastEventNs < quietMs * 1000000 &&
        System.nanoTime() < deadline) Thread.sleep(25)
  }

  // ---- plan metrics ----------------------------------------------------

  private def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] =
    p +: p.children.flatMap(nodes).toSeq
  private def metric(n: SparkPlanInfo, name: String): Double =
    n.metrics.filter(_.name == name).map(m => accValue.getOrElse(m.accumulatorId, 0.0)).sum

  def planFacts(group: String): PlanFacts = synchronized {
    val ns = of(group).execs.toSeq.flatMap(plans.get).flatMap(nodes)
    val scans = ns.filter(_.nodeName.startsWith("Scan "))
    PlanFacts(
      exchanges = ns.count(n => n.nodeName == "Exchange"),
      codegenStages = ns.count(_.nodeName.startsWith("WholeStageCodegen")),
      filesRead = scans.map(metric(_, "number of files read")).sum,
      bytesRead = scans.map(metric(_, "size of files read")).sum,
      scanMs = scans.map(metric(_, "scan time")).sum,
      joinRows = ns.filter(_.nodeName.contains("Join"))
        .map(metric(_, "number of output rows")).sum,
      writtenFiles = ns.map(metric(_, "number of written files")).sum,
      writtenBytes = ns.map(metric(_, "written output")).sum)
  }

  /** Everything recorded under an operation's job group, including the
    * groups aliased to it (a streaming query's run id). Aliases resolve
    * here, after the fact, so a micro-batch that starts before the
    * harness registers its alias is still attributed. */
  def of(group: String): Acc = synchronized {
    val out = new Acc
    byGroup.foreach { case (g, a) =>
      if (alias.getOrElse(g, g) == group) {
        out.jobs += a.jobs; out.stages += a.stages; out.tasks += a.tasks
        out.failedTasks += a.failedTasks; out.runMs += a.runMs
        out.cpuNs += a.cpuNs; out.gcMs += a.gcMs; out.schedMs += a.schedMs
        out.shufWriteBytes += a.shufWriteBytes; out.shufWriteNs += a.shufWriteNs
        out.fetchWaitMs += a.fetchWaitMs; out.spillDisk += a.spillDisk
        out.rowsRead += a.rowsRead; out.bytesRead += a.bytesRead
        out.jobSpans ++= a.jobSpans; out.execs ++= a.execs
      }
    }
    out
  }

  /** Seconds of [startMs, endMs] covered by the union of `spans`. */
  def covered(spans: Seq[(Long, Long)], startMs: Long, endMs: Long): Double = {
    val clipped = spans.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0L
    var open = false
    clipped.foreach { case (a, b) =>
      if (!open) { curA = a; curB = b; open = true }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (open) total += curB - curA
    total / 1000.0
  }
}

/** The tracer of a traced run, reachable from the workloads. */
object Tracing {
  @volatile var tracer: Option[Tracer] = None
  def alias(from: String, to: String): Unit = tracer.foreach(_.aliasGroup(from, to))
}
