package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Lineage

/** Isotonic (monotone) calibration of classifier scores — the step
  * between a trained ranker ([[QualityModel]]/[[Softmax]]) and a
  * usable PROBABILITY: fit a non-decreasing map score → P(label=1)
  * by pool-adjacent-violators over frozen score bins.
  *
  * Distributed discipline matches the trainers: ONE corpus aggregate
  * reduces (score, label) to per-bin (count, positives) over the
  * explicit `cuts` (same frozen-cutoff rule as
  * [[Profile.bucketCounts]]), the PAV pooling runs driver-side over
  * the ≤ |cuts|+1 bins (bounded, like the centroid/vocab steps), and
  * application is a codegen'd CASE — no sort, no shuffle, no model
  * object.
  */
object Calibrate {

  /** Per-bin calibrated probabilities: fit PAV over the binned
    * (count, positives) table. Returns one probability per bin
    * (bins indexed 1..|cuts|+1, [[TextAnalysis.bucketByCutoffs]]'s
    * rule); empty bins inherit the pooled value of their neighbors'
    * pool (they join the pool with weight 0, so the fit is defined
    * everywhere).
    */
  def isotonicBins(scored: DataFrame, scoreCol: String,
      labelCol: String, cuts: Seq[Double]): Array[Double] = {
    require(cuts.nonEmpty && cuts == cuts.sorted,
      "cuts must be non-empty and ascending")
    val nBins = cuts.size + 1
    val bucket = cuts.foldLeft(lit(1L)) { (acc, c) =>
      acc + when(col(scoreCol) > c, 1L).otherwise(0L)
    }
    val stats = scored
      .select(bucket.as("bucket"), col(labelCol).cast("double").as("y"))
      .groupBy("bucket").agg(count(lit(1)).cast("double").as("n"),
        sum("y").as("pos"))
      .collect().map(r => r.getLong(0).toInt ->
        (r.getDouble(1), r.getDouble(2))).toMap
    val n = Array.tabulate(nBins)(i => stats.get(i + 1).map(_._1).getOrElse(0.0))
    val pos = Array.tabulate(nBins)(i => stats.get(i + 1).map(_._2).getOrElse(0.0))
    pav(n, pos)
  }

  /** Pool-adjacent-violators over weighted bin means: stack-based
    * exact PAV — merge a new bin into the top pool while the top
    * pool's mean would decrease, left to right. Zero-weight bins
    * merge into whatever pool spans them.
    */
  private[graft] def pav(w: Array[Double], sum: Array[Double]): Array[Double] = {
    // pools as (weight, sum, span)
    val stack = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Int)]
    for (i <- w.indices) {
      var cur = (w(i), sum(i), 1)
      def mean(p: (Double, Double, Int)) =
        if (p._1 == 0) Double.NaN else p._2 / p._1
      while (stack.nonEmpty && {
        val top = stack.last
        // merge if violation (top mean > cur mean) or either side is
        // weightless (undefined mean joins its neighbor's pool)
        top._1 == 0 || cur._1 == 0 || mean(top) > mean(cur)
      }) {
        val top = stack.remove(stack.size - 1)
        cur = (top._1 + cur._1, top._2 + cur._2, top._3 + cur._3)
      }
      stack += cur
    }
    // all-zero prefix pools (no data at all) default to 0.0
    stack.toArray.flatMap { case (pw, ps, span) =>
      val v = if (pw == 0) 0.0 else ps / pw
      Array.fill(span)(v)
    }
  }

  /** Codegen'd application of a fitted calibration: maps `scoreCol`
    * through its bin's probability (a literal CASE chain — no join,
    * no shuffle).
    */
  /** Reliability-diagram data: scores assigned to FROZEN `cuts` bins
    * (same rule as [[graft.ml.TextAnalysis.bucketByCutoffs]]), each
    * bin reporting (n, mean_score, rate) — mean_score ≈ rate per bin
    * is what "calibrated" MEANS; the gap column is the per-bin
    * calibration error whose weighted average is ECE. One hash
    * aggregate; run before and after [[isotonicBins]] to show the
    * fix worked.
    */
  def reliability(scored: DataFrame, scoreCol: String, labelCol: String,
      cuts: Seq[Double]): DataFrame = {
    require(cuts.nonEmpty && cuts == cuts.sorted,
      "cuts must be non-empty and ascending")
    val bucket = cuts.foldLeft(lit(1L)) { (acc, c) =>
      acc + when(col(scoreCol) > c, 1L).otherwise(0L)
    }
    scored
      .select(bucket.as("bucket"), col(scoreCol).cast("double").as("s"),
        col(labelCol).cast("double").as("y"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        avg("s").as("mean_score"), avg("y").as("rate"))
      .withColumn("gap", abs(col("mean_score") - col("rate")))
      .orderBy("bucket")
  }

  /** Expected calibration error over FROZEN bins: the n-weighted
    * average of the per-bin |mean_score − rate| gaps from
    * [[reliability]] — the one-number summary reviewers ask for
    * after the diagram. Returns one row (n, n_bins, ece, max_gap);
    * max_gap is the MCE companion (worst bin, not the average).
    */
  def ece(scored: DataFrame, scoreCol: String, labelCol: String,
      cuts: Seq[Double]): DataFrame =
    reliability(scored, scoreCol, labelCol, cuts)
      .agg(sum("n").as("n"), count(lit(1)).as("n_bins"),
        (sum(col("gap") * col("n")) / sum("n")).as("ece"),
        max("gap").as("max_gap"))

  def applyBins(scoreCol: Column, cuts: Seq[Double],
      calibrated: Array[Double]): Column = {
    require(calibrated.length == cuts.size + 1, "bin arity mismatch")
    cuts.zip(calibrated.init).foldRight(lit(calibrated.last)) {
      case ((c, v), acc) => when(scoreCol <= c, v).otherwise(acc)
    }
  }

  /** Platt scaling (Platt 1999): calibrate a raw score with the
    * parametric map P(y=1|s) = σ(a·s + b), fit by `iters` exact
    * full-batch gradient steps on the logistic NLL from (a,b) =
    * (0,0) — the parametric sibling of [[isotonicBins]] (monotone by
    * construction, 2 parameters, no binning, extrapolates smoothly
    * past the observed score range).
    *
    * Appends `calibrated`. Scale shape: per step one 2-double
    * aggregate over the scored table with the 1-row parameter state
    * broadcast back (the QualityModel trainer shape); one
    * [[Lineage.iterate]] cut per step.
    */
  def plattScale(scored: DataFrame, scoreCol: String, labelCol: String,
      iters: Int = 8, lr: Double = 2.0): DataFrame = {
    require(iters >= 1 && lr > 0, "need iters >= 1 and lr > 0")
    val base = scored
      .withColumn("__s", col(scoreCol).cast("double"))
      .withColumn("__y", col(labelCol).cast("double"))
    def sig(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))
    val ab0 = base.sparkSession.range(1)
      .select(lit(0.0).as("a"), lit(0.0).as("b"))
    val ab = Lineage.iterate(ab0, iters) { ab =>
      val z = sig(col("a") * col("__s") + col("b"))
      val g = base.crossJoin(broadcast(ab))
        .agg((sum((z - col("__y")) * col("__s")) / count(lit(1))).as("da"),
          (sum(z - col("__y")) / count(lit(1))).as("db"))
      ab.crossJoin(broadcast(g))
        .select((col("a") - lit(lr) * col("da")).as("a"),
          (col("b") - lit(lr) * col("db")).as("b"))
    }((_, _) => false)
    base.crossJoin(broadcast(ab))
      .withColumn("calibrated", sig(col("a") * col("__s") + col("b")))
      .drop("__s", "__y", "a", "b")
  }

  /** Split conformal prediction intervals per group: from a
    * CALIBRATION set of nonconformity scores (e.g. |y − ŷ|), the
    * finite-sample-valid radius is the k-th smallest calibration
    * score where k = ⌈(n+1)(1−α)⌉ — guaranteeing coverage ≥ 1−α on
    * exchangeable eval rows (Vovk; Lei et al. 2018). Groups where
    * k > n (too few calibration rows for the requested α) get a
    * NULL radius = infinite interval, surfaced rather than silently
    * clamped. The k-th order statistic is selected DISCRETELY
    * (row_number = k), not via an interpolating percentile, so any
    * engine replays it exactly.
    *
    * Returns per group: (group, n_cal, k, qhat) plus eval coverage
    * (n_eval, covered, coverage) when evalDf is supplied — covered =
    * eval rows whose score ≤ qhat.
    *
    * Shape: one window rank over calibration scores within group +
    * one broadcast-join of per-group radii onto eval — no global
    * sort, no quadratic.
    */
  def conformal(calDf: DataFrame, groupCol: String, scoreCol: String,
      alpha: Double, evalDf: Option[DataFrame] = None): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha in (0,1)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("s"), col("rnd"))
    val cal = calDf.select(col(groupCol).as("g"),
      col(scoreCol).cast("double").as("s"))
      // deterministic tie order: equal scores are interchangeable for
      // the order statistic, but a stable secondary key keeps the
      // window rank reproducible
      .withColumn("rnd", xxhash64(col("s")))
    val stats = cal.groupBy("g").agg(count(lit(1)).as("n_cal"))
      .withColumn("k",
        ceil((col("n_cal") + 1) * lit(1.0 - alpha)).cast("long"))
    val ranked = cal.withColumn("rk", row_number().over(w))
    val qhat = stats.join(
      ranked.select(col("g"), col("rk"), col("s")),
      stats("g") === ranked("g") && col("rk") === col("k"), "left")
      .select(stats("g").as("group"), col("n_cal"), col("k"),
        col("s").as("qhat"))
    evalDf match {
      case None => qhat.orderBy("group")
      case Some(ev) =>
        val e = ev.select(col(groupCol).as("group"),
          col(scoreCol).cast("double").as("es"))
        qhat.join(e, Seq("group"), "left")
          .groupBy("group")
          .agg(first("n_cal").as("n_cal"), first("k").as("k"),
            first("qhat").as("qhat"),
            sum(when(col("es").isNotNull, 1L).otherwise(0L)).as("n_eval"),
            // NULL qhat = infinite interval: everything is covered
            sum(when(col("es").isNotNull &&
              (col("qhat").isNull || col("es") <= col("qhat")), 1L)
              .otherwise(0L)).as("covered"))
          .withColumn("coverage",
            when(col("n_eval") > 0,
              col("covered").cast("double") / col("n_eval")))
    }
  }
}
