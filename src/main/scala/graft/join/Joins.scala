package graft.join

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join strategy surface — the rebuild of the reference's
  * `JoinAlgorithms` (JoinAlgorithms.scala:53-458).
  *
  * The reference exposed a *manual* physical-join menu because
  * MapReduce had no planner: the user chose reduce-side vs replicated
  * vs salted. Under Catalyst + AQE most of that choice is automatic,
  * so these helpers are (a) API fidelity, (b) explicit hints for the
  * cases a planner cannot infer (broadcast of a side whose smallness
  * the stats don't show; salting when AQE skew-split is disabled).
  */
object Joins {

  /** Reduce-side equi-join (`joinWithSmaller`,
    * JoinAlgorithms.scala:155-182). Catalyst picks sort-merge or
    * shuffled-hash; "smaller/larger" hints are obsolete.
    */
  def joinWithSmaller(left: DataFrame, right: DataFrame, keys: Seq[String],
      how: String = "inner"): DataFrame =
    left.join(right, keys, how)

  /** `joinWithLarger` flipped its arguments so the bigger pipe
    * streamed (JoinAlgorithms.scala:187-189); side selection is
    * Catalyst's job now.
    */
  def joinWithLarger(left: DataFrame, right: DataFrame, keys: Seq[String],
      how: String = "inner"): DataFrame =
    left.join(right, keys, how)

  /** Map-side replicated hash join (`joinWithTiny`,
    * JoinAlgorithms.scala:221-236): right side broadcast to every
    * task; inner/left only, like the reference.
    */
  def joinWithTiny(left: DataFrame, tiny: DataFrame, keys: Seq[String],
      how: String = "inner"): DataFrame = {
    require(how == "inner" || how == "left",
      s"joinWithTiny supports inner/left (got $how) — JoinAlgorithms.scala:221")
    left.join(broadcast(tiny), keys, how)
  }

  /** Cartesian with broadcast tiny side (`crossWithTiny`,
    * JoinAlgorithms.scala:70-75).
    */
  def crossWithTiny(left: DataFrame, tiny: DataFrame): DataFrame =
    left.crossJoin(broadcast(tiny))

  /** Replicate-fragment ("block") join for skewed keys
    * (`blockJoinWithSmaller`, JoinAlgorithms.scala:265-341): the left
    * side gets a random salt in [0, rightReplication), the right side
    * is exploded once per salt value, and the join key becomes
    * (keys..., salt) — splitting each hot key across
    * `rightReplication` reducers at the cost of replicating the right
    * side. Deterministic given `seed`.
    */
  def blockJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      rightReplication: Int = 8, how: String = "inner",
      seed: Long = 42L): DataFrame = {
    require(rightReplication >= 1, "replication must be >= 1")
    require(how == "inner", "blockJoin is inner-only, like the reference skew join")
    val salted = left.withColumn("__salt",
      (rand(seed) * rightReplication).cast("int"))
    val replicated = right.withColumn("__salt",
      explode(sequence(lit(0), lit(rightReplication - 1))))
    salted.join(replicated, keys :+ "__salt", how).drop("__salt")
  }

  /** Adaptive skew join (`skewJoinWithSmaller`,
    * JoinAlgorithms.scala:365-458). The reference sampled both sides
    * at rate 0.001 and derived per-key replication
    * (SkewReplication.scala:106-152); AQE's runtime skew-split
    * (`spark.sql.adaptive.skewJoin.enabled`) does the same from exact
    * shuffle statistics, so this asserts AQE and delegates. Falls back
    * to salting when AQE is off.
    */
  def skewJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      fallbackReplication: Int = 8): DataFrame = {
    val conf = left.sparkSession.conf
    val aqeOn = conf.get("spark.sql.adaptive.enabled", "true").toBoolean &&
      conf.get("spark.sql.adaptive.skewJoin.enabled", "true").toBoolean
    if (aqeOn) left.join(right, keys, "inner")
    else blockJoin(left, right, keys, fallbackReplication)
  }

  /** Bloom-filter pre-join (superset — the reference's only
    * shuffle-volume lever was manual replication). Builds a bloom
    * filter over `right`'s keys as a scalar subquery, prunes `left`
    * rows that cannot match BEFORE the join's exchange, then runs the
    * ordinary equi-join. At 100 TB this is the difference between
    * shuffling the whole fact table and shuffling only the fraction
    * that can join: the filter is ~1.2 MB per million build keys at 1%
    * fpp, rides to every task once, and the probe stays inside
    * whole-stage codegen (see [[org.apache.spark.sql.graft.SketchColumns]]).
    *
    * Results are EXACT for `inner` and `left_semi` (false positives
    * survive the prefilter but die in the real join); other join types
    * would drop legitimately-unmatched left rows, so they are
    * rejected. Catalyst's own `InjectRuntimeFilter` plants the same
    * pair of expressions when stats justify it — this operator is for
    * when the user knows the build side is selective and the stats
    * don't show it.
    *
    * `expectedItems` sizes the filter; the default (0) takes `right`'s
    * plan estimate the way `InjectRuntimeFilter` sizes its own
    * runtime filters: the row count, else the byte size over the
    * estimated row width. `BloomFilterAggregate` clamps both to
    * Spark's runtime-filter maxima.
    */
  def bloomJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      how: String = "inner", expectedItems: Long = 0L,
      fpp: Double = 0.01): DataFrame = {
    require(how == "inner" || how == "left_semi",
      s"bloomJoin is exact only for inner/left_semi (got $how)")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    import org.apache.spark.sql.graft.SketchColumns
    val items = if (expectedItems > 0) expectedItems else estimatedRows(right)
    val ln2sq = math.log(2) * math.log(2)
    val numBits = math.ceil(-items * math.log(fpp) / ln2sq).toLong
    def keyHash: Column = xxhash64(keys.map(col): _*)
    val bf = right.agg(
      SketchColumns.bloomFilterAgg(keyHash, items, numBits).as("bf"))
    val pruned = left.filter(SketchColumns.bloomMightContain(bf.scalar(), keyHash))
    pruned.join(right, keys, how)
  }

  private def estimatedRows(df: DataFrame): Long = {
    import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
    val plan = df.queryExecution.optimizedPlan
    val stats = plan.stats
    val rows = stats.rowCount.getOrElse(
      stats.sizeInBytes / EstimationUtils.getSizePerRow(plan.output))
    rows.max(1).min(Long.MaxValue).toLong
  }

  /** As-of join (superset — absent in the reference, which had only
    * equi-joins, JoinAlgorithms.scala:169): for every left row, attach
    * the latest right row with the same key whose timestamp is <= the
    * left timestamp.
    *
    * Composed from built-ins (the guide's preference (a)): one union +
    * one window pass — a single shuffle by key, values carried forward
    * with last(ignoreNulls), no range-join blowup. `rightCols` are the
    * value columns pulled from the right side.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, rightCols: Seq[String],
      how: String = "inner", direction: String = "backward"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(how == "inner" || how == "left", s"asofJoin: inner/left, got $how")
    require(Set("backward", "forward", "nearest").contains(direction),
      s"asofJoin: backward/forward/nearest, got $direction")
    val leftCols = left.columns.toSeq
    // All right values ride in ONE struct so a single
    // last(ignoreNulls) attaches one complete right row — filling each
    // column independently could mix values from different right rows
    // whenever some rightCols are null.
    val rightStruct = struct(
      (col(rightTs).cast("long").as("__rts") +: rightCols.map(col)): _*)
    val rightStructType = right
      .select(rightStruct.as("__rv")).schema("__rv").dataType
    val l = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__tag", lit(1))
      .withColumn("__rv", lit(null).cast(rightStructType))
      .select((keys.map(col) :+ col("__ts") :+ col("__tag") :+ col("__rv")) ++
        leftCols.filterNot(keys.contains).map(col): _*)
    val r = right
      .withColumn("__ts", col(rightTs))
      .withColumn("__tag", lit(0))
      .withColumn("__rv", rightStruct)
      .select((keys.map(col) :+ col("__ts") :+ col("__tag") :+ col("__rv")) ++
        leftCols.filterNot(keys.contains)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    // at equal timestamps the right value sorts first (tag 0), so it
    // is visible to the left row — matching ASOF's >= semantics.
    // `forward` is the mirror (ts descending: the carried value is
    // the NEXT right row at-or-after); `nearest` computes both fills
    // over the SAME keyed partition — one shuffle, two in-partition
    // sorts — and picks the smaller |Δts|, ties to backward.
    val wb = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").desc, col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val unioned = l.unionByName(r)
    val filled = direction match {
      case "backward" =>
        unioned.withColumn("__rv", last(col("__rv"), ignoreNulls = true).over(wb))
      case "forward" =>
        unioned.withColumn("__rv", last(col("__rv"), ignoreNulls = true).over(wf))
      case "nearest" =>
        val db = abs(col("__ts").cast("long") - col("__b").getField("__rts"))
        val df = abs(col("__ts").cast("long") - col("__f").getField("__rts"))
        unioned
          .withColumn("__b", last(col("__rv"), ignoreNulls = true).over(wb))
          .withColumn("__f", last(col("__rv"), ignoreNulls = true).over(wf))
          .withColumn("__rv",
            when(col("__b").isNull, col("__f"))
              .when(col("__f").isNull, col("__b"))
              .when(df < db, col("__f"))
              .otherwise(col("__b")))
          .drop("__b", "__f")
    }
    val lefts = filled.filter(col("__tag") === 1)
    val matched = if (how == "inner") lefts.filter(col("__rv").isNotNull) else lefts
    val unpacked = rightCols.foldLeft(matched) { (df, c) =>
      df.withColumn(c, col("__rv").getField(c))
    }
    unpacked.drop("__ts", "__tag", "__rv")
  }

  /** As-of join on the native Catalyst operator (the guide's
    * preference (c): LogicalPlan + Strategy + SparkPlan, registered by
    * `GraftExtensions`): same contract as [[asofJoin]] but planned as
    * a single sorted-merge pass — one shuffle per side instead of a
    * union + window, O(1) merge state, and the output keeps the left
    * side's hash partitioning for downstream per-key operators.
    * Requires the session to be built with
    * `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`.
    */
  def asofJoinNative(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, rightCols: Seq[String],
      how: String = "inner"): DataFrame = {
    // project/rename the right side so the join output has no
    // duplicate column names: keys and ts get reserved names that are
    // dropped after the join, rightCols keep theirs
    val rightSel = right.select(
      keys.map(k => col(k).as(s"__rk_$k")) ++
        (col(rightTs).as("__asof_rts") +: rightCols.map(col)): _*)
    org.apache.spark.sql.graft.AsOfNative
      .asofJoin(left, rightSel, keys, keys.map(k => s"__rk_$k"),
        leftTs, "__asof_rts", how)
      .drop(keys.map(k => s"__rk_$k") :+ "__asof_rts": _*)
  }

  /** Range (interval) join — superset operator: match each left point
    * `pointCol` to right intervals [startCol, endCol). A naive
    * inequality join is a cross-product per key; this composes the
    * standard scalable form: quantize to fixed buckets of `bucketWidth`,
    * explode each interval over the buckets it spans, equi-join on the
    * bucket, then apply the exact range predicate. Each point lives in
    * exactly one bucket, so no dedup is needed.
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame,
      pointCol: String, startCol: String, endCol: String,
      bucketWidth: Double, keys: Seq[String] = Nil): DataFrame = {
    val p = points.withColumn("__bucket",
      floor(col(pointCol) / bucketWidth).cast("long"))
    // Empty/inverted intervals (end <= start) would make `sequence`
    // DESCEND and explode spurious buckets — drop them up front (they
    // can match no point), and clamp hi to lo for sub-epsilon spans.
    val lo = floor(col(startCol) / bucketWidth).cast("long")
    val hi = floor((col(endCol) - 1e-9) / bucketWidth).cast("long")
    val iv = intervals
      .filter(col(endCol) > col(startCol))
      .withColumn("__bucket", explode(sequence(lo, greatest(lo, hi))))
    p.join(iv, keys :+ "__bucket")
      .filter(col(pointCol) >= col(startCol) && col(pointCol) < col(endCol))
      .drop("__bucket")
  }

  /** Interval-overlap join — superset operator completing the range
    * family: both sides carry half-open intervals `[start, end)` and a
    * pair matches when the intervals overlap (`lStart < rEnd &&
    * rStart < lEnd`), optionally within equal `keys`. The naive
    * inequality join is a per-key cross-product; this uses the same
    * fixed-bucket decomposition as [[rangeJoin]], exploding BOTH sides
    * over the buckets their intervals span and equi-joining on
    * (keys, bucket). Overlapping pairs meet in every bucket their
    * overlap spans, so to stay exactly duplicate-free each pair is
    * emitted only from the bucket containing its overlap's start,
    * `max(lStart, rStart)` — a codegen'd filter, no `dropDuplicates`
    * shuffle. Cost scales with span/bucketWidth per row; choose
    * `bucketWidth` near the typical interval length.
    *
    * Column names must be disjoint across the two sides apart from
    * `keys` (standard Spark join hygiene; rename before calling).
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      bucketWidth: Double, keys: Seq[String] = Nil): DataFrame = {
    def exploded(df: DataFrame, s: String, e: String): DataFrame = {
      val lo = floor(col(s) / bucketWidth).cast("long")
      val hi = floor((col(e) - 1e-9) / bucketWidth).cast("long")
      // drop empty/inverted intervals up front: they can match nothing
      // and a descending `sequence` would explode spurious buckets
      df.filter(col(e) > col(s))
        .withColumn("__bucket", explode(sequence(lo, greatest(lo, hi))))
    }
    exploded(left, lStart, lEnd)
      .join(exploded(right, rStart, rEnd), keys :+ "__bucket")
      .filter(col(lStart) < col(rEnd) && col(rStart) < col(lEnd))
      .filter(col("__bucket") ===
        floor(greatest(col(lStart), col(rStart)) / bucketWidth).cast("long"))
      .drop("__bucket")
  }

  /** N-way star join (`coGroupBy` + MixedJoin,
    * CoGroupBuilder.scala:27-61): chained joins on one key; per-pipe
    * inner/outer mode list mirrors the reference's `JoinMode`s.
    */
  def coGroup(pipes: Seq[DataFrame], key: String,
      modes: Seq[String]): DataFrame = {
    require(pipes.size >= 2 && modes.size == pipes.size - 1)
    pipes.tail.zip(modes).foldLeft(pipes.head) { case (acc, (p, how)) =>
      acc.join(p, Seq(key), how)
    }
  }
}
