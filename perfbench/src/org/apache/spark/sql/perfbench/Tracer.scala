package org.apache.spark.sql.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's traced-run recorder: one SparkListener plus one
  * QueryExecutionListener, attached only while a traced iteration runs.
  *
  * Every record is keyed by the Spark job group the benchmark sets per
  * iteration (`pb-<n>`), so events that arrive late on the listener bus
  * still land in the iteration that caused them. Records are kept in memory
  * and folded into per-iteration totals by [[Tracer.layerTotals]] after the
  * bus has drained. Lives in an `org.apache.spark.sql` package because the
  * execution-end event's QueryExecution and the bus drain are Spark-private. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val execStarts = new java.util.concurrent.ConcurrentHashMap[Long, (String, Long)]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobs = new ConcurrentLinkedQueue[(String, Long)]()
  val stages = new ConcurrentLinkedQueue[String]()
  val execs = new ConcurrentLinkedQueue[ExecRec]()
  @volatile var failedQueries = 0

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Block until every event posted so far has reached the listeners. */
  def drain(): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  private def execOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    jobs.add((g, e.time))
    e.stageInfos.foreach(s => stageGroup.putIfAbsent(s.stageId, (g, execOf(e.properties))))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageGroup.putIfAbsent(e.stageInfo.stageId, (groupOf(e.properties), execOf(e.properties)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(Option(stageGroup.get(e.stageInfo.stageId)).map(_._1).getOrElse(""))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val (g, exec) = Option(stageGroup.get(e.stageId)).getOrElse(("", -1L))
    val i = e.taskInfo
    val delay = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - i.gettingResultTime)
    tasks.add(TaskRec(g, exec, i.finishTime, m.executorRunTime, m.executorCpuTime / 1000000L,
      m.jvmGCTime, delay, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
      m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled, m.inputMetrics.bytesRead,
      m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart =>
      execStarts.put(s.executionId, (s.jobGroupId.getOrElse(""), s.time))
    case e: SparkListenerSQLExecutionEnd =>
      val (g, t0) = Option(execStarts.remove(e.executionId)).getOrElse(("", e.time))
      execs.add(ExecRec(g, e.executionId, t0, e.time, kindOf(e.qe), phasesOf(e.qe),
        writtenFiles(e.qe)))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = ()
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    failedQueries += 1
}

object Tracer {
  final case class TaskRec(group: String, exec: Long, finishMs: Long, runMs: Long, cpuMs: Long,
                           gcMs: Long, delayMs: Long, shuffleWrite: Long, shuffleRead: Long,
                           fetchWaitMs: Long, spillDisk: Long, inputBytes: Long,
                           inputRecords: Long, outputBytes: Long, outputRecords: Long)

  final case class ExecRec(group: String, id: Long, startMs: Long, endMs: Long, kind: String,
                           phases: Map[String, Long], files: Long)

  /** What an execution wrote: "json", "parquet", … for a file write, "" for
    * anything else. */
  private def kindOf(qe: QueryExecution): String =
    if (qe == null) ""
    else qe.analyzed.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.fileFormat.toString.toLowerCase
    }.getOrElse("")

  private def phasesOf(qe: QueryExecution): Map[String, Long] =
    if (qe == null) Map.empty
    else qe.tracker.phases.map { case (k, v) => k -> v.durationMs }

  private def writtenFiles(qe: QueryExecution): Long = {
    def files(p: SparkPlan): Long = p match {
      case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case c: CommandResultExec => files(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => files(a.executedPlan)
      case q: QueryStageExec => files(q.plan)
      case other => other.children.map(files).sum
    }
    if (qe == null) 0L else files(qe.executedPlan)
  }

  /** Sum of the lengths of `spans` after merging overlaps. */
  def unionMs(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per-iteration totals of the cross-cutting layers (driver planning,
    * scheduling, executors, shuffle, IO) for job group `group`. */
  def layerTotals(t: Tracer, group: String): mutable.LinkedHashMap[String, Double] = {
    val ts = t.tasks.asScala.filter(_.group == group).toSeq
    val es = t.execs.asScala.filter(_.group == group).toSeq
    def phase(p: String) = es.map(_.phases.getOrElse(p, 0L)).sum.toDouble
    mutable.LinkedHashMap(
      "plan.parse_ms" -> phase("parsing"),
      "plan.analyze_ms" -> phase("analysis"),
      "plan.optimize_ms" -> phase("optimization"),
      "plan.physical_ms" -> phase("planning"),
      "sched.jobs" -> t.jobs.asScala.count(_._1 == group).toDouble,
      "sched.stages" -> t.stages.asScala.count(_ == group).toDouble,
      "sched.tasks" -> ts.size.toDouble,
      "sched.delay_ms" -> ts.map(_.delayMs).sum.toDouble,
      "sched.sql_executions" -> es.size.toDouble,
      "exec.run_ms" -> ts.map(_.runMs).sum.toDouble,
      "exec.cpu_ms" -> ts.map(_.cpuMs).sum.toDouble,
      "exec.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "shuffle.write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "shuffle.fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum.toDouble,
      "spill.disk_bytes" -> ts.map(_.spillDisk).sum.toDouble,
      "io.input_bytes" -> ts.map(_.inputBytes).sum.toDouble,
      "io.output_bytes" -> ts.map(_.outputBytes).sum.toDouble,
      "io.output_files" -> es.map(_.files).sum.toDouble)
  }
}
