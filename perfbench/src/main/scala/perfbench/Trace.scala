package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.{Success => TaskSucceeded}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as the listener events' `System.currentTimeMillis`. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One timed call into a layer: `name` is the public call, `op` the
  * operation (query name or ingest run) it belongs to. */
final case class Span(name: String, op: String, start: Double, end: Double) {
  def seconds: Double = (end - start) / 1e3
}

/** Executor CPU of every finished task. Registered in every run, traced or
  * not: it backs the end-to-end `task_cpu_s`. */
final class CpuCounter extends SparkListener {
  val cpuNs = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
}

final case class JobRec(id: Int, start: Long, op: String, details: String,
                        stages: Seq[Int]) {
  @volatile var end: Long = -1L
}

final case class TaskRec(stage: Int, ok: Boolean, runMs: Long, cpuNs: Long,
                         gcMs: Long, inBytes: Long, inRecords: Long,
                         shuffleWrite: Long, shuffleRead: Long,
                         fetchWaitMs: Long, spillMemory: Long, spillDisk: Long)

/** Events of the traced passes, kept in memory. Spark delivers them on its
  * listener-bus thread; the harness reads them after draining the bus. The
  * query-execution and streaming listeners are per session, and stream
  * drains run on child sessions, so those two are installed through the
  * static session confs (one instance per session) and report here. */
object Trace {
  /** Local property naming the operation a job belongs to. */
  val OpProperty = "perfbench.op"

  @volatile var active = false
  val jobs = new ConcurrentHashMap[Int, JobRec]
  val tasks = new ConcurrentLinkedQueue[TaskRec]
  val stages = new AtomicLong
  val aqeUpdates = new AtomicLong
  val analysisS, optimizationS, planningS = new DoubleAdder
  val streamDrains, streamBatches = new AtomicLong
  val streamBatchS, stateCommitS = new DoubleAdder

  def reset(): Unit = {
    jobs.clear(); tasks.clear()
    Seq(stages, aqeUpdates, streamDrains, streamBatches).foreach(_.set(0))
    Seq(analysisS, optimizationS, planningS, streamBatchS, stateCommitS)
      .foreach(_.reset())
  }

  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
  def taskList: Seq[TaskRec] = tasks.asScala.toSeq

  object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).map(_.getProperty(OpProperty)).orNull
      val details = e.stageInfos.lastOption.map(_.details).getOrElse("")
      jobs.put(e.jobId, JobRec(e.jobId, e.time, op, details, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.stageId, e.reason == TaskSucceeded,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled,
        m.diskBytesSpilled))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => aqeUpdates.incrementAndGet()
      case _ =>
    }
  }
}

/** Catalyst phase times of every action; see [[Trace]]. */
final class TraceQueryListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Trace.active) {
      val phases = qe.tracker.phases
      def add(phase: String, to: DoubleAdder): Unit =
        phases.get(phase).foreach(p => to.add((p.endTimeMs - p.startTimeMs) / 1e3))
      add("analysis", Trace.analysisS)
      add("optimization", Trace.optimizationS)
      add("planning", Trace.planningS)
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Micro-batch progress of every stream drain; see [[Trace]]. */
final class TraceStreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    if (Trace.active) Trace.streamDrains.incrementAndGet()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (Trace.active) {
      val p = e.progress
      Trace.streamBatches.incrementAndGet()
      Option(p.durationMs.get("triggerExecution"))
        .foreach(ms => Trace.streamBatchS.add(ms.longValue / 1e3))
      p.stateOperators.foreach(o => Trace.stateCommitS.add(o.commitTimeMs / 1e3))
    }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
