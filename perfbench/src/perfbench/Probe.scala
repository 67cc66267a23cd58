package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SparkInternals
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters read from Spark's own listeners, kept in memory.
  *
  * Streaming progress is always collected: it carries the trigger times
  * the end-to-end latency is made of. The job/stage/task and planning
  * listeners are installed only in traced runs, and record only while
  * [[Probe.tracing]] is on, so an untraced phase pays nothing for them.
  *
  * Every listener is registered by class name (`spark.extraListeners`,
  * `spark.sql.queryExecutionListeners`,
  * `spark.sql.streaming.streamingQueryListeners`), because the pipeline
  * runs its stream on a derived session, and per-session listener
  * registrations would not see it. */
object Probe {
  @volatile var tracing = false

  // ---- streaming progress (always on) ----
  private val progress = new java.util.concurrent.LinkedBlockingQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private val dataBatches = new AtomicLong(0)
  def dataBatchesDone: Long = dataBatches.get()
  def drainProgress(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    val out = new java.util.ArrayList[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    progress.drainTo(out)
    out.asScala.toSeq
  }
  def resetStreaming(): Unit = { progress.clear(); dataBatches.set(0) }
  private[perfbench] def onProgress(
      p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    progress.add(p)
    if (p.numInputRows > 0) { dataBatches.incrementAndGet(); () }
  }

  // ---- engine counters (traced runs) ----
  /** Per-job record; `owner` is the span the job belongs to. */
  final class Job(val id: Int, val owner: String, val startMs: Long,
                  val execId: Long) {
    @volatile var endMs: Long = -1L
    val c = new Counters
  }
  final class Counters {
    var stages, tasks = 0L
    var runMs, cpuMs, overheadMs, gcMs = 0.0
    var shuffleRead, shuffleWrite, shuffleRecords, spill, output = 0L
    var skewSum = 0.0; var skewN = 0L
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  /** Planning phases and written files of one query execution. */
  final case class Planning(qeId: Long, analysisMs: Double,
                            optimizationMs: Double, planningMs: Double,
                            filesWritten: Long)
  val planning = new java.util.concurrent.ConcurrentLinkedQueue[Planning]()
  /** Query execution id -> SQL execution id, the id its jobs carry. */
  val sqlExecutionOf = new ConcurrentHashMap[Long, Long]()

  /** Run one measured phase with the engine counters on or off. The
    * counters of a traced phase replace any earlier ones; the listener
    * bus is drained before they are switched off. */
  def phase[T](spark: org.apache.spark.sql.SparkSession, traced: Boolean)(body: => T): (T, Double) = {
    if (traced) resetEngine()
    tracing = traced
    val cpu0 = processCpuMs()
    try (body, processCpuMs() - cpu0) finally {
      SparkInternals.awaitListeners(spark.sparkContext)
      tracing = false
    }
  }

  /** CPU time of this process (all threads), in ms. */
  def processCpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  private def resetEngine(): Unit = {
    jobs.clear(); stageJob.clear(); stageTaskMs.clear(); planning.clear()
    sqlExecutionOf.clear()
  }

  private[perfbench] def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    // streaming jobs carry their micro-batch id; the benchmark's own
    // calls set a job group named after their span
    val owner = prop("streaming.sql.batchId") match {
      case Some(b) => s"batch:${prop("sql.streaming.queryId").getOrElse("")}:$b"
      case None => prop("spark.jobGroup.id").getOrElse("")
    }
    val execId = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    val j = new Job(e.jobId, owner, e.time, execId)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }
  private[perfbench] def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  private[perfbench] def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    Option(stageJob.get(id)).foreach { j =>
      j.c.synchronized {
        j.c.stages += 1
        Option(stageTaskMs.remove(id)).filter(_.size >= 2).foreach { ts =>
          val sorted = ts.sorted
          val med = sorted(sorted.size / 2).toDouble
          if (med > 0) { j.c.skewSum += sorted.last / med; j.c.skewN += 1 }
        }
      }
    }
  }

  private[perfbench] def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    Option(stageJob.get(e.stageId)).foreach { j =>
      val dur = e.taskInfo.duration
      j.c.synchronized {
        val c = j.c
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuMs += m.executorCpuTime / 1e6
        c.overheadMs += math.max(0L, dur - m.executorRunTime)
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.output += m.outputMetrics.bytesWritten
      }
      val times = stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer[Long]())
      times.synchronized { times += m.executorRunTime }
    }
  }

  private[perfbench] def onQuery(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    planning.add(Planning(qe.id, ms("analysis"), ms("optimization"), ms("planning"),
      filesWritten(qe.executedPlan)))
    ()
  }

  /** Files written by the write commands of a physical plan (their
    * `numFiles` metric), including plans nested in command results. */
  private def filesWritten(p: SparkPlan): Long = {
    val own = p.metrics.get("numFiles").map(_.value).getOrElse(0L)
    val nested = p match {
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => Nil
    }
    own + (p.children ++ nested).map(filesWritten).sum
  }
}

/** `spark.extraListeners` entry: job, stage and task counters. */
class EngineListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Probe.tracing) Probe.onJobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (Probe.tracing) Probe.onJobEnd(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (Probe.tracing) Probe.onStageCompleted(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (Probe.tracing) Probe.onTaskEnd(e)
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd if Probe.tracing =>
      SparkInternals.queryExecutionId(end)
        .foreach(id => Probe.sqlExecutionOf.put(id, end.executionId))
    case _ =>
  }
}

/** `spark.sql.queryExecutionListeners` entry: Catalyst phase times. */
class PlanningListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit =
    if (Probe.tracing) Probe.onQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit =
    if (Probe.tracing) Probe.onQuery(qe)
}

/** `spark.sql.streaming.streamingQueryListeners` entry: per-trigger
  * progress of every query, whichever session started it. */
class ProgressListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Probe.onProgress(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
