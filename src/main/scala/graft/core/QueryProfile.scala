package graft.core

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.ListenerBus
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark's listeners report about one query run: jobs started while
  * it is built and by its sink, completed stages, and executed
  * QueryExecutions, the sink's last (its plan is the final adaptive one).
  * Only [[QueryProfile.record]] registers one, for the length of a run.
  */
final class QueryProfile private (spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  private var jobs, builtJobs = 0
  private val stageStats = mutable.ArrayBuffer.empty[QueryProfile.StageStat]
  private val qes = mutable.ArrayBuffer.empty[QueryExecution]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(jobs += 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val (si, m) = (e.stageInfo, e.stageInfo.taskMetrics)
    val (read, write) = (m.shuffleReadMetrics, m.shuffleWriteMetrics)
    stageStats += QueryProfile.StageStat(si.stageId, si.numTasks, m.executorRunTime,
      read.recordsRead, si.name, m.executorCpuTime / 1000000L, read.totalBytesRead,
      write.bytesWritten, write.recordsWritten, m.diskBytesSpilled)
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = synchronized(qes += qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = synchronized(qes += qe)

  /** Ends construction: jobs started from here on are the sink's. */
  def sinkStarts(): Unit = {
    ListenerBus.drain(spark.sparkContext)
    synchronized { builtJobs = jobs }
  }

  def constructionJobs: Int = synchronized(builtJobs)
  def sinkJobs: Int = synchronized(jobs - builtJobs)
  def stages: Seq[QueryProfile.StageStat] = synchronized(stageStats.toSeq)
  def executions: Seq[QueryExecution] = synchronized(qes.toSeq)
}

object QueryProfile {

  /** One completed stage; `graft.tools.StageAudit` judges the first five. */
  final case class StageStat(stageId: Int, numTasks: Int, runTimeMs: Long,
      shuffleReadRecords: Long, name: String, cpuMs: Long = 0L,
      shuffleReadBytes: Long = 0L, shuffleWriteBytes: Long = 0L,
      shuffleWriteRecords: Long = 0L, spillBytes: Long = 0L)

  /** Runs `body`, which calls `sinkStarts` between build and sink, under a new profile. */
  def record[T](spark: SparkSession)(body: QueryProfile => T): (QueryProfile, T) = {
    val p = new QueryProfile(spark)
    spark.listenerManager.register(p)
    spark.sparkContext.addSparkListener(p)
    try (p, body(p))
    finally {
      ListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(p)
      spark.listenerManager.unregister(p)
    }
  }
}
