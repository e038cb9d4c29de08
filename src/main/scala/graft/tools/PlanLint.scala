package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Automated physical-plan linter: walks a query's executed plan and
  * flags the shapes that stop scaling — the systematic version of the
  * hand-picked audits in PlanAuditSpec. A smell is not automatically a
  * bug (a cartesian against a broadcast 8-row band table is the right
  * plan), so the lint contract is: every occurrence must be EXPLICITLY
  * whitelisted with a justification, and the whitelist may not go
  * stale. PlanLintSpec runs this over every registered gate query.
  *
  * Rules:
  *  - `cartesian`: CartesianProductExec / BroadcastNestedLoopJoin —
  *    row-count products; fatal at scale unless one side is tiny by
  *    construction.
  *  - `global-window`: WindowExec with an empty partition spec whose
  *    input has already been REDUCED by an aggregate (a distinct-value
  *    prefix-sum kernel: midranks, count-of-counts, vocabulary ranks)
  *    — one task holds |distinct values| rows; whitelistable with a
  *    boundedness justification.
  *  - `global-window-raw`: an unpartitioned WindowExec fed directly
  *    by non-aggregated input — ALL corpus rows to one task; never
  *    whitelistable.
  */
object PlanLint {

  final case class Finding(rule: String, node: String)

  /** All physical nodes, descending through AQE wrappers, query-stage
    * leaves (whose inner plan hides behind a LeafExecNode), reused
    * exchanges, and subquery plans.
    */
  private[graft] def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val here = root.collectWithSubqueries { case p => p }
    val nested = here.flatMap {
      case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        Seq(r.child)
      // cache substitution can swap a whole subtree for an
      // InMemoryTableScan (e.g. two gates sharing one persisted
      // word-count table) — descend into the cached plan so the
      // structural checks see what actually produced the rows
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        Seq(m.relation.cachedPlan)
      case _ => Nil
    }
    here ++ nested.flatMap(nodes)
  }

  def lint(df: DataFrame): Seq[Finding] =
    nodes(df.queryExecution.executedPlan).flatMap {
      case _: CartesianProductExec =>
        Some(Finding("cartesian", "CartesianProductExec"))
      case j: BroadcastNestedLoopJoinExec =>
        Some(Finding("cartesian", s"BroadcastNestedLoopJoin(${j.joinType})"))
      case w: WindowExec if w.partitionSpec.isEmpty =>
        Some(if (reducedInput(w.child))
          Finding("global-window", "WindowExec[no partition]")
        else Finding("global-window-raw", "WindowExec[no partition, raw input]"))
      case _ => None
    }.distinct

  /** True iff the plan's output is row-REDUCED on the window's direct
    * input path: walking down through unary/pass-through nodes only,
    * the first structural node reached is an aggregate. A join, union,
    * generate, or bare scan encountered first means the input can be
    * corpus-sized — an aggregate buried further down (e.g. an agg
    * output joined back onto raw corpus rows) does NOT count, which
    * was the round-6 lint's blind spot: `nodes(child).exists(isAgg)`
    * classified agg⋈corpus → window as whitelistable "global-window".
    */
  private def reducedInput(p: SparkPlan): Boolean = p match {
    case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
    case a: AdaptiveSparkPlanExec => reducedInput(a.initialPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      reducedInput(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      reducedInput(r.child)
    case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      reducedInput(m.relation.cachedPlan)
    // row-multiplying unary node: NOT a reduction even above an agg
    case _: org.apache.spark.sql.execution.GenerateExec => false
    case u: org.apache.spark.sql.execution.UnaryExecNode =>
      reducedInput(u.child)
    case _ => false // joins, unions, leaves (raw scans)
  }

  /** Sweep every registered gate query and print its findings. */
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.core.GraftSession.forMain()
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (n, fn) =>
      try {
        val fs = lint(fn(spark, dir))
        if (fs.nonEmpty) println(s"LINT $n: ${fs.mkString("; ")}")
      } catch {
        case e: Throwable => println(s"LINT $n: ERROR ${e.getMessage}")
      }
    }
    println("LINT done")
    spark.stop()
  }
}
