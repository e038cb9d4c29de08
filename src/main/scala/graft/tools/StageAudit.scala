package graft.tools

import graft.core.QueryProfile.StageStat

/** The one-task-collapse criterion: low-entropy blocking keys plus AQE's
  * byte-based coalescing once serialized a quadratic edit-distance stage
  * onto one task — value-correct, invisible to PlanLint, fatal at scale.
  * Tiny SFs fold stages to one task legitimately, so sweep at sf0.1:
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.Profile all <sf0.1 dir>"
  */
object StageAudit {

  /** The stage with the largest summed run time, and its share of all. */
  def dominant(stats: Seq[StageStat]): Option[(StageStat, Double)] =
    stats.maxByOption(_.runTimeMs)
      .map(d => (d, d.runTimeMs.toDouble / stats.map(_.runTimeMs).sum.max(1L)))

  /** The dominant stage iff it ran on < cores/4 tasks, carried > 50% of
    * the task time, burned > 5 s of it (AQE folds tiny shuffles to 1-3
    * short tasks) and READ A SHUFFLE (a scan's task count is bounded by
    * its input splits, which says nothing about scale).
    */
  def collapsed(stats: Seq[StageStat], cores: Int): Option[(StageStat, Double)] =
    dominant(stats).filter { case (d, share) =>
      d.numTasks < cores / 4 && share > 0.5 && d.runTimeMs > 5000L && d.shuffleReadRecords > 0L
    }
}
