package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

/** One Spark job as the listener saw it, in epoch milliseconds. `propOp`
  * is the op id the job carried in its local properties (absent for jobs
  * started from pool threads that predate the property).
  */
final case class JobSpan(jobId: Int, startMs: Long, var endMs: Long,
                         propOp: Option[String])

/** Spark runtime and planning numbers of one op, filled in as the
  * listener events arrive and written out as the op's `counters` record.
  * `planRulesNs` is the Catalyst rule time (analyzer, optimizer, adaptive
  * re-optimization) the op spent, from RuleExecutor's process-wide meter.
  */
final case class OpCounters(
    jobs: mutable.ArrayBuffer[JobSpan] = mutable.ArrayBuffer.empty,
    var stagesRun: Long = 0L, var tasks: Long = 0L,
    var singleTaskStages: Long = 0L,
    var execRunMs: Long = 0L, var execCpuNs: Long = 0L, var execGcMs: Long = 0L,
    var scanBytes: Long = 0L, var scanRecords: Long = 0L,
    var shuffleWriteBytes: Long = 0L, var shuffleReadBytes: Long = 0L,
    var shuffleFetchWaitMs: Long = 0L, var spillBytes: Long = 0L,
    var sinkBytes: Long = 0L, var sinkCommitMs: Long = 0L,
    var planAnalysisMs: Long = 0L, var planOptimizerMs: Long = 0L,
    var planPhysicalMs: Long = 0L, var planRulesNs: Long = 0L)

/** SparkListener + QueryExecutionListener pair that attributes every
  * event to the op running when it is processed. Ops run one at a time
  * and `end` drains the listener bus, so no event of one op is processed
  * while another is current. Events with no current op are dropped.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  @volatile private var current: OpCounters = null
  private val stageOwner = TrieMap.empty[Int, OpCounters]
  private val openJobs = TrieMap.empty[Int, JobSpan]

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def begin(): OpCounters = { val c = new OpCounters; current = c; c }

  /** Waits for the op's events, then stops attributing. */
  def end(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    current = null
    stageOwner.clear()
    openJobs.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val c = current
    if (c != null) {
      val prop = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Main.OpProperty)))
      val span = JobSpan(e.jobId, e.time, -1L, prop)
      c.jobs += span
      openJobs(e.jobId) = span
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    openJobs.remove(e.jobId).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val c = current
    if (c != null) stageOwner(e.stageInfo.stageId) = c
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageOwner.get(e.stageInfo.stageId).foreach { c =>
      c.stagesRun += 1
      c.tasks += e.stageInfo.numTasks
      if (e.stageInfo.numTasks == 1) c.singleTaskStages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (c <- stageOwner.get(e.stageId); m <- Option(e.taskMetrics)) {
      c.execRunMs += m.executorRunTime
      c.execCpuNs += m.executorCpuTime
      c.execGcMs += m.jvmGCTime
      c.scanBytes += m.inputMetrics.bytesRead
      c.scanRecords += m.inputMetrics.recordsRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleFetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val c = current
    if (c != null) {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      c.planAnalysisMs += ms("analysis")
      c.planOptimizerMs += ms("optimization")
      c.planPhysicalMs += ms("planning")
      // descends into adaptive plans, which wrap writes with exchanges
      collect(qe.executedPlan) { case w: DataWritingCommandExec => w.cmd.metrics }
        .foreach { m =>
          def v(k: String): Long = m.get(k).map(_.value).getOrElse(0L)
          c.sinkBytes += v("numOutputBytes")
          c.sinkCommitMs += v("taskCommitTime") + v("jobCommitTime")
        }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}
