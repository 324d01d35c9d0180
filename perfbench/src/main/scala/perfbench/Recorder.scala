package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what Spark's public listeners report once attached.
  *
  * Nothing is derived here: jobs, stages (with their tasks folded into
  * sums), Catalyst executions and streaming progress are kept in memory as
  * raw records with their epoch-millisecond times, and `run.py` attributes
  * them to the benchmark's own query spans after the run. Listener events
  * arrive on Spark's asynchronous bus, after the call that caused them may
  * have returned, so events are selected by their times rather than by
  * when they arrive, and the records are read only after
  * `SparkContext.stop()`, which drains the bus.
  */
final class Recorder {

  final class Stage(val id: Int, val attempt: Int, val submitted: Long) {
    var completed = 0L
    var tasks = 0
    var tasksFailed = 0
    var tasksEmpty = 0
    var runMs = 0L
    var maxRunMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inBytes = 0L
    var inRecords = 0L
    var outBytes = 0L
    var shWrite = 0L
    var shRead = 0L
    var spill = 0L
  }

  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long, Boolean)]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val executions = new ConcurrentLinkedQueue[Map[String, Any]]
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]
  private val streamStarts = new ConcurrentLinkedQueue[Long]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Map("id" -> e.jobId, "start" -> e.time, "stages" -> e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.add((e.jobId, e.time, e.jobResult == JobSucceeded))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val i = e.stageInfo
      stages.synchronized {
        stages((i.stageId, i.attemptNumber())) = new Stage(i.stageId, i.attemptNumber(),
          i.submissionTime.getOrElse(System.currentTimeMillis()))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.synchronized {
        stages.get((i.stageId, i.attemptNumber())).foreach(s =>
          s.completed = i.completionTime.getOrElse(System.currentTimeMillis()))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      stages.synchronized {
        stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
          s.tasks += 1
          if (e.taskInfo.failed || e.taskInfo.killed) s.tasksFailed += 1
          if (m != null) {
            s.runMs += m.executorRunTime
            s.maxRunMs = math.max(s.maxRunMs, m.executorRunTime)
            s.cpuNs += m.executorCpuTime
            s.gcMs += m.jvmGCTime
            s.inBytes += m.inputMetrics.bytesRead
            s.inRecords += m.inputMetrics.recordsRead
            s.outBytes += m.outputMetrics.bytesWritten
            s.shWrite += m.shuffleWriteMetrics.bytesWritten
            s.shRead += m.shuffleReadMetrics.totalBytesRead
            s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0)
              s.tasksEmpty += 1
          }
        }
      }
    }
  }

  private def planNodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => Iterator(q) ++ planNodes(q.plan)
    case other => Iterator(other) ++
      (other.children.iterator ++ other.subqueries.iterator).flatMap(planNodes)
  }

  val executionListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, ok = false)
  }

  private def record(qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    val start = if (phases.isEmpty) System.currentTimeMillis()
                else phases.values.map(_.startTimeMs).min
    def ms(name: String) = phases.get(name).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    val (nodes, graftNodes) =
      try {
        val ns = planNodes(qe.executedPlan).toVector
        (ns.size, ns.count(_.getClass.getName.startsWith("graft.")))
      } catch { case _: Throwable => (0, 0) }
    executions.add(Map("start" -> start, "ok" -> ok,
      "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"), "nodes" -> nodes, "graft_nodes" -> graftNodes))
  }

  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamStarts.add(java.time.Instant.parse(e.timestamp).toEpochMilli)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Map(
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "batch" -> p.batchId,
        "rows" -> p.numInputRows,
        "ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Everything recorded, as JSON fields. Call after the bus is drained. */
  def fields: Map[String, Any] = {
    val ends = jobEnds.asScala.map(e => e._1 -> e).toMap
    val js = jobs.asScala.toVector.map { j =>
      val e = ends.get(j("id").asInstanceOf[Int])
      j ++ Map("end" -> e.map(_._2).getOrElse(-1L), "ok" -> e.exists(_._3))
    }
    val ss = stages.synchronized(stages.values.toVector).map { s =>
      Map("id" -> s.id, "attempt" -> s.attempt, "submitted" -> s.submitted,
        "completed" -> s.completed, "tasks" -> s.tasks, "tasks_failed" -> s.tasksFailed,
        "tasks_empty" -> s.tasksEmpty, "run_ms" -> s.runMs, "max_run_ms" -> s.maxRunMs,
        "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "in_bytes" -> s.inBytes,
        "in_records" -> s.inRecords, "out_bytes" -> s.outBytes,
        "shuffle_write" -> s.shWrite, "shuffle_read" -> s.shRead, "spill" -> s.spill)
    }
    Map("jobs" -> js, "stages" -> ss, "executions" -> executions.asScala.toVector,
      "stream_starts" -> streamStarts.asScala.toVector, "progress" -> progress.asScala.toVector)
  }
}
