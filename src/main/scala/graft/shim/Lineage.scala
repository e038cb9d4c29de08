package org.apache.spark.sql.graft

import org.apache.spark.{Dependency, NarrowDependency, Partition, SparkException, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

import graft.core.PipelineCaches

/** The one lineage cut and the one loop driver. [[cut]] builds
  * `Dataset.localCheckpoint`'s plan (`LogicalRDD.fromDataset`: the
  * source's statistics, partitioning and ordering) over a [[CutRDD]]
  * that [[graft.core.PipelineCaches.unpersistAll]] frees, which
  * `localCheckpoint`'s RDD is not. A resident cut has no RDD parent, so
  * later rounds neither walk nor serialize earlier ones and their
  * shuffles can be cleaned; a released one rebuilds from its source's
  * logical plan if run again.
  */
object Lineage {

  // resident cuts, freed by the pipeline cache drop
  private val cuts = new java.util.concurrent.ConcurrentLinkedQueue[CutRDD]()
  PipelineCaches.onClear { () =>
    Iterator.continually(cuts.poll()).takeWhile(_ != null).foreach(_.unpersist())
  }

  /** A materialized cut and the row count its materialization took. */
  final case class Cut[T](ds: Dataset[T], rows: Long)

  /** `ds` materialized (one job) under a plan that scans the tracked
    * rows; a resident cut is returned as is.
    */
  def cut[T](ds: Dataset[T]): Dataset[T] = counted(ds).ds

  /** The row count of `ds`'s cut, free on a frame [[cut]] returned. */
  def rows(ds: Dataset[_]): Long = counted(ds).rows

  /** Free a frame [[cut]] returned now; a no-op on any other. */
  def release(ds: Dataset[_]): Unit = ds.queryExecution.analyzed match {
    case LogicalRDD(_, r: CutRDD, _, _, _, _) => cuts.remove(r); r.unpersist()
    case _ =>
  }

  /** The driver loop (Scalding's `Job.next` recursion): cut `init`,
    * then up to `maxIter` times cut `step` of the current iterate and
    * stop once `done(previous, next)` holds. Each iterate is released
    * once its successor is materialized; the last stays tracked.
    */
  def iterate[T](init: Dataset[T], maxIter: Int)(step: Dataset[T] => Dataset[T])
      (done: (Cut[T], Cut[T]) => Boolean): Dataset[T] = {
    @annotation.tailrec def loop(cur: Cut[T], i: Int): Dataset[T] =
      if (i == maxIter) cur.ds
      else {
        val next = counted(step(cur.ds))
        val stop = done(cur, next)
        release(cur.ds)
        if (stop) next.ds else loop(next, i + 1)
      }
    loop(counted(init), 0)
  }

  private def counted[T](ds: Dataset[T]): Cut[T] = {
    val d = ds.asInstanceOf[classic.Dataset[T]]
    d.queryExecution.analyzed match {
      case LogicalRDD(_, r: CutRDD, _, _, _, _) if r.resident => Cut(ds, r.rows)
      case _ =>
        SQLExecution.withNewExecutionId(d.queryExecution, Some("Lineage.cut")) {
          val rdd = new CutRDD(d.sparkSession, d.logicalPlan, d.queryExecution.toRdd)
          cuts.add(rdd.persist(StorageLevel.MEMORY_AND_DISK))
          rdd.materialize()
          Cut(classic.Dataset(d.sparkSession,
            LogicalRDD.fromDataset(rdd, d, d.isStreaming))(d.encoder), rdd.rows)
        }
    }
  }
}

/** A cut's rows: counted once over its source's RDD, then read from
  * its blocks alone; `unpersist` frees them and re-attaches a parent
  * rebuilt from `plan`. Its partitions never change, as RDDs built over
  * it keep them.
  */
private final class CutRDD(@transient private val session: classic.SparkSession,
    @transient private val plan: LogicalPlan,
    @transient private var source: RDD[InternalRow])
  extends RDD[InternalRow](session.sparkContext, Nil) {

  private val numParts = source.partitions.length
  @volatile private[graft] var resident = false
  @transient private[graft] var rows = 0L

  private[graft] def materialize(): Unit = {
    rows = count()
    resident = true
    source = null
    markCheckpointed() // forget the parent dependency
  }

  override def unpersist(blocking: Boolean): this.type = {
    super.unpersist(blocking)
    if (resident) { resident = false; markCheckpointed() }
    this
  }

  override protected def getDependencies: Seq[Dependency[_]] =
    if (resident) Nil
    else {
      if (source == null) {
        val qe = classic.Dataset.ofRows(session, plan).queryExecution
        source = SQLExecution.withNewExecutionId(qe, Some("Lineage.cut rebuild"))(qe.toRdd)
      }
      List(new CutDependency(source, numParts))
    }

  override protected def getPartitions: Array[Partition] =
    Array.tabulate[Partition](numParts)(CutPartition(_))

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
    dependencies match {
      // rows must be copied out of the unsafe buffer before caching
      case Seq(d: CutDependency) => d.rows(split.index, context).map(_.copy())
      case _ => throw new SparkException(s"block rdd_${id}_${split.index} of a cut is lost")
    }
}

/** Cut partition i reads parent partitions i, i + n, …: one for one
  * unless adaptive execution, whose plans declare no partitioning,
  * coalesced a rebuild differently.
  */
private final class CutDependency(parent: RDD[InternalRow], n: Int)
  extends NarrowDependency[InternalRow](parent) {
  private val parts = parent.partitions
  override def getParents(i: Int): Seq[Int] = i until parts.length by n
  def rows(i: Int, context: TaskContext): Iterator[InternalRow] =
    getParents(i).iterator.flatMap(j => rdd.iterator(parts(j), context))
}

private final case class CutPartition(index: Int) extends Partition
