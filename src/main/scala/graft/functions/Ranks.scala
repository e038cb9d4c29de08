package graft.functions

import scala.util.DynamicVariable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions.{coalesce, col, lit, row_number, sum}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Global order statistics — ranks and running sums over a whole
  * table in one total order — and the ONE place that decides how to
  * compute them. Kernels call [[rank]] or [[prefixSums]] on the table
  * they order (typically a vocabulary- or distinct-value-sized
  * aggregate) and keep no strategy of their own:
  *
  *   - below the single-task sort budget the result comes from one
  *     `row_number()` / `sum(...)` window over `Window.orderBy(...)` —
  *     a single-partition WindowExec, the cheapest plan for a bounded
  *     table;
  *   - above it, from the two-pass distributed form
  *     ([[distributedRank]] / [[distributedPrefixSums]]), so an open
  *     vocabulary (n-grams, URLs, continuous scores, billions of doc
  *     ids) never funnels through one task.
  *
  * Both paths return the same rows with the same column types.
  *
  * The two-pass form is the classic zipWithIndex shape:
  * range-partition on the order (a distributed sort — each partition
  * holds a contiguous key range), count/sum each partition once,
  * broadcast the per-partition offsets (one long per partition — KB,
  * not data), then stream each partition adding its offset. Both
  * passes are fully parallel; the sort shuffle is computed once (the
  * two jobs share the same RDD lineage, so Spark reuses the shuffle
  * files).
  *
  * Requirements: `orderBy` must totally order the rows (provide a
  * unique tie-break column — every call site here orders distinct
  * keys, so this holds by construction); otherwise tied rows receive
  * an arbitrary but consistent order within the tie. The two-pass
  * construction is EAGER (the offsets job runs when the method is
  * called), like every multi-pass kernel in this repo.
  */
object Ranks {

  /** Single-task sort budget: 1 GiB — a single window task sorts that
    * in seconds; beyond it the single-partition WindowExec becomes the
    * serial wall the 100 TB brief forbids.
    */
  private val windowMaxBytes = new DynamicVariable[Long](1L << 30)

  /** Runs `body` with the budget set to `bytes` on this thread —
    * `withWindowMaxBytes(0L) { ... }` forces the two-pass path for
    * every decision made while a frame is built inside it.
    */
  private[graft] def withWindowMaxBytes[T](bytes: Long)(body: => T): T =
    windowMaxBytes.withValue(bytes)(body)

  /** TRUE when `df`'s optimizer size estimate exceeds the single-task
    * sort budget. Spark's non-CBO aggregate estimate scales with the
    * INPUT size (it never assumes a distinct-count reduction), so a
    * vocabulary-/distinct-score-sized aggregate fed by a 100 TB scan
    * reports TB-scale bytes and flips to the two-pass path, while the
    * same operator over test SFs keeps the cheaper window plan.
    * Overestimates only cost two small jobs; underestimates cannot
    * happen in the dangerous direction (the estimate is ≥ the true
    * aggregate size for these count/sum aggregates).
    */
  private[graft] def autoBig(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes >
      BigInt(windowMaxBytes.value)

  /** `df` + a 1-based dense row index `as` (LongType) assigned in
    * `orderBy` order — `row_number().over(Window.orderBy(orderBy))`,
    * two-pass above the budget.
    */
  def rank(df: DataFrame, orderBy: Seq[Column], as: String): DataFrame =
    if (autoBig(df)) distributedRank(df, orderBy, as)
    else {
      check(df, orderBy, Seq(as))
      df.select(col("*"),
        row_number().over(Window.orderBy(orderBy: _*)).cast(LongType).as(as))
    }

  /** `df` + one running sum per `(weight, outputName)` pair in
    * `orderBy` order, all over one sort. `inclusive = true` includes
    * the current row (cumulative count / rank semantics); `false`
    * gives the exclusive prefix (rows-before semantics, the
    * `rowsBetween(unboundedPreceding, -1)` shape). Weights are summed
    * as longs and null weights count as 0. `totalsAs` names one grand
    * total column per weight; the window form computes them over the
    * same ordering, so they add no second sort. Two-pass above the
    * budget.
    */
  def prefixSums(df: DataFrame, orderBy: Seq[Column],
      weights: Seq[(Column, String)], inclusive: Boolean,
      totalsAs: Seq[String] = Nil): DataFrame =
    if (autoBig(df))
      distributedPrefixSums(df, orderBy, weights, inclusive, totalsAs)
    else {
      checkPrefix(df, orderBy, weights, totalsAs)
      val w = Window.orderBy(orderBy: _*)
      val upTo = w.rowsBetween(Window.unboundedPreceding,
        if (inclusive) Window.currentRow else -1L)
      val all = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val ws = weights.map { case (c, _) => coalesce(c.cast(LongType), lit(0L)) }
      def over(x: Column, frame: WindowSpec, n: String) =
        coalesce(sum(x).over(frame), lit(0L)).as(n)
      df.select(col("*") +: (
        weights.zip(ws).map { case ((_, n), x) => over(x, upTo, n) } ++
        totalsAs.zip(ws).map { case (n, x) => over(x, all, n) }): _*)
    }

  /** The two-pass form of [[rank]], whatever the budget. */
  def distributedRank(df: DataFrame, orderBy: Seq[Column],
      as: String = "rank"): DataFrame =
    distributedPrefixSums(df, orderBy, Seq(lit(1L) -> as), inclusive = true)

  private def check(df: DataFrame, orderBy: Seq[Column],
      names: Seq[String]): Unit = {
    require(orderBy.nonEmpty, "Ranks: empty order")
    require(names.distinct == names, s"Ranks: duplicate output names $names")
    names.foreach(n => require(!df.columns.contains(n),
      s"Ranks: output column $n already exists"))
  }

  private def checkPrefix(df: DataFrame, orderBy: Seq[Column],
      weights: Seq[(Column, String)], totalsAs: Seq[String]): Unit = {
    require(weights.nonEmpty, "Ranks: no weights")
    require(totalsAs.isEmpty || totalsAs.length == weights.length,
      "Ranks: totalsAs must name one column per weight")
    check(df, orderBy, weights.map(_._2) ++ totalsAs)
  }

  /** The two-pass form of [[prefixSums]], whatever the budget. */
  def distributedPrefixSums(df: DataFrame, orderBy: Seq[Column],
      weights: Seq[(Column, String)], inclusive: Boolean,
      totalsAs: Seq[String] = Nil): DataFrame = {
    checkPrefix(df, orderBy, weights, totalsAs)
    val k = weights.length
    val wCols = (0 until k).map(i => s"__graft_psum_w$i")
    wCols.foreach(w => require(!df.columns.contains(w),
      s"Ranks: reserved column $w in input"))
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val sorted = weights.zip(wCols).foldLeft(df) {
        case (d, ((c, _), w)) =>
          d.withColumn(w, coalesce(c.cast("long"), lit(0L)))
      }
      .repartitionByRange(parts, orderBy: _*)
      .sortWithinPartitions(orderBy: _*)
    val base = df.columns.length // weight cols appended last, in order
    val rdd = sorted.rdd
    // pass 1: k longs per partition (bounded by the partition count)
    val partSums = rdd.mapPartitionsWithIndex { (i, it) =>
      val s = new Array[Long](k)
      it.foreach { r =>
        var j = 0
        while (j < k) { s(j) += r.getLong(base + j); j += 1 }
      }
      Iterator((i, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(new Array[Long](k)) { (acc, x) =>
      Array.tabulate(k)(j => acc(j) + x(j))
    }
    // pass 2: stream each partition adding its exclusive offsets; the
    // sort shuffle from pass 1 is reused (same RDD lineage)
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      val acc = offsets(i).clone()
      it.map { r =>
        val vals = new Array[Any](k)
        var j = 0
        while (j < k) {
          val w = r.getLong(base + j)
          vals(j) = if (inclusive) acc(j) + w else acc(j)
          acc(j) += w
          j += 1
        }
        Row.fromSeq(r.toSeq.dropRight(k) ++ vals)
      }
    }
    val prefixed = spark.createDataFrame(out,
      StructType(df.schema.fields ++
        weights.map { case (_, n) => StructField(n, LongType, false) }))
    // grand totals fall out of pass 1 for free (offsets.last is the
    // all-partition sum) — append as literals, no extra scan
    totalsAs.zipWithIndex.foldLeft(prefixed) { case (d, (n, j)) =>
      d.withColumn(n, lit(offsets.last(j)))
    }
  }
}
