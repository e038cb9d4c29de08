package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what Spark reports at its public listener boundaries while
  * the traced passes run: jobs, stages, task metrics, cached-block puts,
  * SQL executions and the planning-phase times of each QueryExecution.
  *
  * Everything is attributed to an op through the job group the harness
  * sets before each op (the op id) and kept in memory; [[Layers]] turns
  * it into spans and per-layer totals when the run ends. All callbacks
  * arrive on Spark's listener-bus thread; reads happen after
  * [[awaitDrained]], so a single lock suffices.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  val execs = mutable.LinkedHashMap.empty[Long, Exec]
  /** QueryExecution phase times by SQL execution id. */
  val qes = mutable.HashMap.empty[Long, Qe]
  private var pendingQe: Option[Qe] = None
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val rddJob = mutable.HashMap.empty[Int, Int]
  private val blockPuts = mutable.ArrayBuffer.empty[(Int, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    jobs(e.jobId) = Job(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
      prop("spark.sql.execution.id").map(_.toLong), e.time)
    e.stageInfos.foreach { s =>
      stageJob.getOrElseUpdate(s.stageId, e.jobId)
      s.rddInfos.foreach(r => rddJob.getOrElseUpdate(r.id, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt),
      new Stage(id, attempt, stageJob.getOrElse(id, -1)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stage(e.stageId, e.stageAttemptId)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spill += m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      s.inBytes += m.inputMetrics.bytesRead
      s.inRecords += m.inputMetrics.recordsRead
      s.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      s.start = i.submissionTime.getOrElse(0L)
      s.end = i.completionTime.getOrElse(0L)
      s.completed = true
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      val bytes = b.memSize + b.diskSize
      if (b.blockId.isRDD && b.storageLevel.isValid && bytes > 0)
        blockPuts += ((b.blockId.asRDDId.get.rddId, bytes))
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = Exec(s.executionId, s.jobGroupId.getOrElse(""),
          s.rootExecutionId.getOrElse(s.executionId), s.time)
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach(_.end = s.time)
        pendingQe.foreach(q => qes(s.executionId) = q)
        pendingQe = None
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  /** Spark calls QueryExecution listeners from a listener on the same
    * bus queue while it delivers that execution's SQLExecutionEnd; the
    * harness registers this object as a QueryExecution listener before
    * adding it as a SparkListener, so the callback comes first and the
    * next execution end this listener sees names the QE's execution.
    */
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val q = Qe(isWrite(qe.logical), ms("analysis"), ms("optimization"), ms("planning"))
    synchronized { pendingQe = Some(q) }
  }

  /** Cached-block puts attributed to the job whose stages hold the RDD. */
  def puts: Seq[(Int, Long)] = synchronized {
    blockPuts.toSeq.map { case (rdd, b) => (rddJob.getOrElse(rdd, -1), b) }
  }

  /** Waits until every job Spark started for `group` has ended and every
    * SQL execution of the group has ended, as seen by this listener —
    * i.e. the bus has delivered the op's events.
    */
  def awaitDrained(sc: org.apache.spark.SparkContext, group: String): Unit = {
    val ids = sc.statusTracker.getJobIdsForGroup(group).toSet
    val deadline = System.nanoTime() + 10_000_000_000L
    def done = synchronized {
      ids.forall(i => jobs.get(i).exists(_.end > 0)) &&
        execs.values.filter(_.group == group).forall(_.end > 0)
    }
    while (!done && System.nanoTime() < deadline) Thread.sleep(2)
  }
}

object Trace {
  final case class Job(id: Int, group: String,
      execId: Option[Long], start: Long) { var end = 0L }

  final class Stage(val id: Int, val attempt: Int, val job: Int) {
    var start, end = 0L
    var completed = false
    var tasks = 0
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs = 0L
    var spill, peakMem, inBytes, inRecords, outBytes = 0L
  }

  final case class Exec(id: Long, group: String, root: Long, start: Long) {
    var end = 0L
  }

  final case class Qe(write: Boolean, analysisMs: Long,
      optimizerMs: Long, planningMs: Long)

  /** A sink: a data-source write command (V1 or V2). */
  def isWrite(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    p.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand => true
      case _: org.apache.spark.sql.execution.command.DataWritingCommand => true
      case _: org.apache.spark.sql.execution.datasources.SaveIntoDataSourceCommand => true
      case _ => false
    }
}
