package graft.events

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Event-sequence analytics over (user, timestamp, type) streams —
  * funnels and cohort retention, the two queries every large-scale
  * event pipeline runs daily. The reference has no equivalent (its
  * closest idiom is hand-rolled groupBy buffers); these are
  * first-class here because they stress exactly the shapes that
  * matter at 100 TB: ONE shuffle by user for an arbitrary-depth
  * funnel (never one join per step), and distinct-aggregation for
  * cohort grids.
  */
object Events {

  /** Per-user funnel completion: how deep into `steps` (ordered event
    * types) each user progressed, matching greedily by earliest
    * qualifying time — step 1 at its global earliest t₁, step k at the
    * earliest occurrence ≥ step k-1's time (and ≤ t₁ + `windowSec`
    * when set; `0` or negative = unwindowed). Ties at the same second
    * match (≥ comparisons on whole seconds), so semantics are exactly
    * replayable by chained-min SQL.
    *
    * Input: `events` with (userCol: long, secCol: long epoch seconds,
    * typeCol: string). Output: (user, reached) — the number of steps
    * completed, 1-based; users with no step-1 event are absent.
    *
    * Scale shape: ONE hash shuffle by user (groupByKey), then a
    * per-user chained-min over that user's events held in memory —
    * per-user event counts are bounded in practice; depth K costs K
    * passes over the in-memory array, NOT K joins over the table.
    */
  def funnel(events: DataFrame, userCol: String, secCol: String,
      typeCol: String, steps: Seq[String],
      windowSec: Long = 0L): Dataset[(Long, Int)] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val spark = events.sparkSession
    import spark.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    events
      .select(col(userCol).cast("long"), col(secCol).cast("long"),
        col(typeCol).cast("string"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .mapGroups { (user, it) =>
        // (sec, stepIndex) for step-relevant events only
        val evs = it.flatMap { case (_, sec, tp) =>
          stepIdx.get(tp).map(i => (sec, i))
        }.toArray
        var reached = 0
        var prevT = Long.MinValue
        var deadline = Long.MaxValue
        var k = 0
        var more = true
        while (more && k < steps.length) {
          // earliest occurrence of step k at-or-after the previous
          // step's time and within the window anchored at step 1
          var best = Long.MaxValue
          var i = 0
          while (i < evs.length) {
            val (sec, si) = evs(i)
            if (si == k && sec >= prevT && sec <= deadline && sec < best)
              best = sec
            i += 1
          }
          if (best == Long.MaxValue) more = false
          else {
            reached = k + 1
            prevT = best
            if (k == 0 && windowSec > 0) deadline = best + windowSec
            k += 1
          }
        }
        (user, reached)
      }
      .filter(_._2 > 0)
  }

  /** Per-step funnel timing: for every step k ≥ 2, the distribution
    * of (step-k match time − step-(k−1) match time) among users who
    * reached step k under [[funnel]]'s exact greedy rule — WHERE the
    * funnel stalls, not just where it leaks. Same single user-keyed
    * shuffle as [[funnel]]; gaps are emitted by the same in-memory
    * chained-min walk and aggregated per step.
    */
  def funnelStepStats(events: DataFrame, userCol: String, secCol: String,
      typeCol: String, steps: Seq[String],
      windowSec: Long = 0L): DataFrame = {
    require(steps.size >= 2, "step timing needs at least two steps")
    val spark = events.sparkSession
    import spark.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    val gaps = events
      .select(col(userCol).cast("long"), col(secCol).cast("long"),
        col(typeCol).cast("string"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val evs = it.flatMap { case (_, sec, tp) =>
          stepIdx.get(tp).map(i => (sec, i))
        }.toArray
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
        var prevT = Long.MinValue
        var deadline = Long.MaxValue
        var k = 0
        var more = true
        while (more && k < steps.length) {
          var best = Long.MaxValue
          var i = 0
          while (i < evs.length) {
            val (sec, si) = evs(i)
            if (si == k && sec >= prevT && sec <= deadline && sec < best)
              best = sec
            i += 1
          }
          if (best == Long.MaxValue) more = false
          else {
            if (k >= 1) out += ((k + 1, best - prevT))
            prevT = best
            if (k == 0 && windowSec > 0) deadline = best + windowSec
            k += 1
          }
        }
        out.iterator
      }
      .toDF("step", "gap")
    val stepDf = steps.zipWithIndex.drop(1)
      .map { case (name, i) => (i + 1, name) }.toDF("step", "step_name")
    stepDf.join(
        gaps.groupBy("step").agg(count(lit(1)).as("n_users"),
          min("gap").as("min_gap"), max("gap").as("max_gap"),
          // exact long sum then one IEEE division — identical across
          // engines, unlike avg's order-dependent double accumulation
          (sum("gap") / count(lit(1))).as("mean_gap")),
        Seq("step"), "left")
      .select(col("step"), col("step_name"),
        coalesce(col("n_users"), lit(0L)).as("n_users"),
        col("min_gap"), col("max_gap"), col("mean_gap"))
      .orderBy("step")
  }

  /** Funnel conversion counts: (step, step_name, n_users) where
    * n_users = users whose [[funnel]] depth reached that step.
    */
  def funnelCounts(events: DataFrame, userCol: String, secCol: String,
      typeCol: String, steps: Seq[String],
      windowSec: Long = 0L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val depths = funnel(events, userCol, secCol, typeCol, steps, windowSec)
      .toDF("user", "reached")
    val stepDf = steps.zipWithIndex
      .map { case (name, i) => (i + 1, name) }.toDF("step", "step_name")
    // a user at depth d counts toward steps 1..d: explode that range
    // (≤ |steps| rows per user) and aggregate — an equi join against
    // the step table, not an inequality nested-loop join; the left
    // join keeps zero rows for steps nobody reached
    val reachedCounts = depths.filter(col("reached") >= 1)
      .select(explode(sequence(lit(1), col("reached"))).as("step"))
      .groupBy("step").agg(count(lit(1)).as("__n"))
    stepDf.join(reachedCounts, Seq("step"), "left")
      .select(col("step"), col("step_name"),
        coalesce(col("__n"), lit(0L)).as("n_users"))
  }

  /** Event-transition (path) counts: for each user's event sequence
    * ordered by (sec, tie-break id), count consecutive (from → to)
    * type pairs — the Markov-chain view of product flows ("what do
    * users do after X?"). One window pass: shuffle by user, sort
    * within partition, lag — no self-join. `idCol` breaks same-second
    * ties deterministically.
    */
  def transitionCounts(events: DataFrame, userCol: String, secCol: String,
      typeCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(col(secCol), col(idCol))
    events
      .withColumn("__from", lag(col(typeCol), 1).over(w))
      .filter(col("__from").isNotNull)
      .groupBy(col("__from").as("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Two-proportion z-test per experiment variant: users are the
    * unit, conversion = "has ≥1 `convType` event"; emits one row per
    * variant pair-against-control with rates, lift and the pooled
    * z-score (the experiment-analysis primitive; threshold |z| ≥
    * 1.96 for the usual 5%). `controlVariant` names the baseline.
    * Two hash aggregates (user-level then variant-level) and a tiny
    * variant×variant comparison — no window, no sort.
    */
  def abTest(events: DataFrame, userCol: String, variantCol: String,
      typeCol: String, convType: String,
      controlVariant: String): DataFrame = {
    val perUser = events
      .groupBy(col(userCol).as("user"), col(variantCol).as("variant"))
      .agg(max(when(col(typeCol) === convType, 1).otherwise(0))
        .as("converted"))
    val perVariant = perUser.groupBy("variant")
      .agg(count(lit(1)).as("n_users"),
        sum("converted").cast("long").as("n_converted"))
      .withColumn("rate",
        col("n_converted").cast("double") / col("n_users"))
    val control = perVariant.filter(col("variant") === controlVariant)
      .select(col("n_users").as("c_users"),
        col("n_converted").as("c_converted"), col("rate").as("c_rate"))
    val treat = perVariant.filter(col("variant") =!= controlVariant)
    val pooled = (col("n_converted") + col("c_converted")).cast("double") /
      (col("n_users") + col("c_users"))
    treat.crossJoin(broadcast(control))
      .select(col("variant"), col("n_users"), col("n_converted"),
        col("rate"), col("c_rate"),
        (col("rate") - col("c_rate")).as("lift"),
        ((col("rate") - col("c_rate")) /
          sqrt(pooled * (lit(1.0) - pooled) *
            (lit(1.0) / col("n_users") + lit(1.0) / col("c_users"))))
          .as("z_score"))
  }

  /** Difference-in-differences: per (variant, period) user-mean
    * metric, then for each treatment arm
    * DiD = (treat_post − treat_pre) − (ctrl_post − ctrl_pre) — the
    * quasi-experimental estimate when assignment wasn't randomized
    * (staged rollouts, geo launches). Period = pre (sec < splitSec)
    * vs post. Two hash aggregates + a broadcast control row.
    */
  def diffInDiff(events: DataFrame, userCol: String, variantCol: String,
      secCol: String, valCol: String, splitSec: Long,
      controlVariant: String): DataFrame = {
    val perUser = events
      .groupBy(col(userCol).as("user"), col(variantCol).as("variant"))
      .agg(
        sum(when(col(secCol) < splitSec, col(valCol)).otherwise(0.0))
          .as("pre"),
        sum(when(col(secCol) >= splitSec, col(valCol)).otherwise(0.0))
          .as("post"))
    val perVariant = perUser.groupBy("variant")
      .agg(count(lit(1)).as("n_users"),
        avg("pre").as("pre_mean"), avg("post").as("post_mean"))
    val ctrl = perVariant.filter(col("variant") === controlVariant)
      .select(col("pre_mean").as("c_pre"), col("post_mean").as("c_post"))
    perVariant.filter(col("variant") =!= controlVariant)
      .crossJoin(broadcast(ctrl))
      .select(col("variant"), col("n_users"),
        col("pre_mean"), col("post_mean"),
        col("c_pre"), col("c_post"),
        ((col("post_mean") - col("pre_mean")) -
          (col("c_post") - col("c_pre"))).as("did"))
  }

  /** Kaplan–Meier survival (retention) curves per cohort, with
    * censoring: each user's lifetime is (last − first) div
    * `periodSec` periods; users whose last event falls within
    * `censorGap` seconds of the observation horizon (the max event
    * time) are CENSORED (still alive — they leave the at-risk set at
    * their observed duration without counting as churn). Cohort =
    * the user's first-event period. Emits per (cohort, t):
    * `at_risk`, `churned`, and the KM estimate
    * S(t) = Π_{i ≤ t} (1 − d_i/n_i) — the survival-analysis answer
    * the plain retention grid approximates without censoring.
    *
    * Shapes: one user-level aggregate, one (cohort, duration)
    * aggregate, cohort-partitioned running windows (never a global
    * window), product-as-exp-sum-of-logs.
    */
  def kaplanMeier(events: DataFrame, userCol: String, secCol: String,
      periodSec: Long, censorGap: Long): DataFrame = {
    require(periodSec > 0 && censorGap >= 0,
      "periodSec must be positive, censorGap non-negative")
    import org.apache.spark.sql.expressions.Window
    val perUser = events
      .groupBy(col(userCol).as("user"))
      .agg(min(col(secCol).cast("long")).as("first_sec"),
        max(col(secCol).cast("long")).as("last_sec"))
    val withHorizon = perUser.crossJoin(
      broadcast(perUser.agg(max("last_sec").as("horizon"))))
    val lifetimes = withHorizon.select(
      expr(s"first_sec div ${periodSec}L").as("cohort"),
      expr(s"(last_sec - first_sec) div ${periodSec}L").as("t"),
      (col("last_sec") >= col("horizon") - censorGap).as("censored"))
    val byDur = lifetimes.groupBy("cohort", "t")
      .agg(sum(when(col("censored"), 0L).otherwise(1L)).as("churned"),
        count(lit(1)).as("leaving"))
    val wRisk = Window.partitionBy("cohort").orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wProd = Window.partitionBy("cohort").orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDur
      .withColumn("at_risk", sum("leaving").over(wRisk))
      // log(0) guard: once every at-risk user churns at some t the
      // curve is exactly 0 from there on — flag it rather than pushing
      // -inf through the log-sum
      .withColumn("__term",
        when(col("churned") < col("at_risk"),
          log(lit(1.0) -
            col("churned").cast("double") / col("at_risk")))
          .otherwise(lit(0.0)))
      .withColumn("__dead",
        max(when(col("churned") === col("at_risk"), 1).otherwise(0))
          .over(wProd))
      .withColumn("survival",
        when(col("__dead") === 1, 0.0)
          .otherwise(exp(sum(col("__term")).over(wProd))))
      .select(col("cohort"), col("t"), col("at_risk"), col("churned"),
        col("survival"))
  }

  /** CUPED variance reduction (Deng et al. 2013): adjust each user's
    * experiment-period metric by their PRE-period covariate,
    * y_adj = y − θ·(x − x̄) with pooled θ = cov(x,y)/var(x), then
    * report per-variant means and variances of raw vs adjusted — the
    * standard pre-experiment-data trick that shrinks A/B confidence
    * intervals without bias. `splitSec` divides pre-period
    * (sec < split) from experiment period (sec ≥ split).
    *
    * One user-level aggregate (pre/post sums per user), one 3-double
    * pooled-stats aggregate broadcast back as literals via a 1-row
    * cross-join, one per-variant aggregate — no window, no sort.
    */
  def cuped(events: DataFrame, userCol: String, variantCol: String,
      secCol: String, valCol: String, splitSec: Long): DataFrame = {
    val perUser = events
      .groupBy(col(userCol).as("user"), col(variantCol).as("variant"))
      .agg(
        sum(when(col(secCol) < splitSec, col(valCol)).otherwise(0.0))
          .as("x"),
        sum(when(col(secCol) >= splitSec, col(valCol)).otherwise(0.0))
          .as("y"))
    val stats = perUser.agg(
      covar_pop(col("x"), col("y")).as("cxy"),
      var_pop(col("x")).as("vx"), avg(col("x")).as("mx"))
    val withTheta = perUser.crossJoin(broadcast(stats))
      .withColumn("theta",
        when(col("vx") > 0, col("cxy") / col("vx")).otherwise(0.0))
      .withColumn("y_adj",
        col("y") - col("theta") * (col("x") - col("mx")))
    withTheta.groupBy("variant")
      .agg(count(lit(1)).as("n_users"),
        avg("y").as("mean_raw"), avg("y_adj").as("mean_adj"),
        var_pop(col("y")).as("var_raw"),
        var_pop(col("y_adj")).as("var_adj"),
        first(col("theta")).as("theta"))
  }

  /** Cumulative Poisson(1) probabilities as fixed-width 8-hex-char
    * thresholds over the md5-prefix space — shared verbatim between
    * the Spark plan and any external SQL replay, so the bootstrap
    * weights are engine-portable by construction (same idiom as
    * [[graft.ml.Profile.strongThreshold]]). Last bucket (u beyond
    * every threshold) gets weight = thresholds.length.
    */
  val poissonHexThresholds: Seq[String] = {
    val eInv = math.exp(-1.0)
    Iterator.iterate((0, eInv, eInv)) { case (k, term, cum) =>
      val t2 = term / (k + 1); (k + 1, t2, cum + t2)
    }.map(_._3)
      .map(p => math.round(p * 4294967296.0))
      .takeWhile(_ < 4294967295L)
      .map(v => f"$v%08x")
      .take(16).toSeq
  }

  /** Poisson-bootstrap confidence intervals for the per-variant mean
    * of a per-user metric (Chamandy et al. 2012's "Estimating
    * Uncertainty for Massive Data Streams" — the bootstrap that
    * scales): replicate r reweights user u by a deterministic
    * Poisson(1) draw from md5(seed:user:r), each replicate's weighted
    * mean is one map-side-combined aggregate row, and the CI is exact
    * order statistics over the `nReps` replicate means (no
    * interpolation — engine-portable). Input is the already-reduced
    * (user, variant, metric) table; compose with a per-user groupBy
    * upstream.
    *
    * Returns (variant, n_users, mean, ci_lo, ci_hi, n_reps) where
    * [ci_lo, ci_hi] is the (1−alpha) percentile interval.
    *
    * Scale shape: users × nReps narrow rows explode map-side and
    * collapse to (variant, r) partials before the exchange — the
    * shuffle carries nReps·|variants| rows regardless of user count;
    * the order-statistic window partitions by variant over nReps-row
    * groups (driver-bounded by contract).
    */
  def bootstrapCI(perUser: DataFrame, userCol: String, variantCol: String,
      metricCol: String, nReps: Int = 200, alpha: Double = 0.05,
      seed: Long = 42L): DataFrame = {
    require(nReps >= 20, "nReps too small for a percentile interval")
    require(alpha > 0 && alpha < 1, "alpha must be in (0,1)")
    val bucket = substring(md5(concat_ws(":", lit(seed).cast("string"),
      col(userCol).cast("long").cast("string"),
      col("r").cast("string"))), 1, 8)
    val w = poissonHexThresholds.zipWithIndex
      .foldRight(lit(poissonHexThresholds.length): org.apache.spark.sql.Column) {
        case ((hex, k), rest) => when(bucket < lit(hex), k).otherwise(rest)
      }
    val reps = perUser
      .select(col(userCol), col(variantCol).as("variant"),
        col(metricCol).cast("double").as("x"))
      .withColumn("r", explode(sequence(lit(0), lit(nReps - 1))))
      .withColumn("w", w.cast("double"))
      .groupBy("variant", "r")
      .agg((sum(col("w") * col("x")) /
        when(sum("w") > 0, sum("w"))).as("est"))
    // exact symmetric order statistics: rank ceil(alpha/2 * R) from
    // each end of the ascending replicate means
    val loRank = math.max(1, math.ceil(alpha / 2 * nReps).toInt)
    val byEst = org.apache.spark.sql.expressions.Window
      .partitionBy("variant").orderBy(col("est").asc_nulls_last, col("r"))
    val ci = reps
      .withColumn("rk", row_number().over(byEst))
      .groupBy("variant")
      .agg(
        max(when(col("rk") === loRank, col("est"))).as("ci_lo"),
        max(when(col("rk") === nReps + 1 - loRank, col("est"))).as("ci_hi"))
    perUser
      .groupBy(col(variantCol).as("variant"))
      .agg(count(lit(1)).as("n_users"),
        avg(col(metricCol).cast("double")).as("mean"))
      .join(ci, Seq("variant"))
      .withColumn("n_reps", lit(nReps))
      .select("variant", "n_users", "mean", "ci_lo", "ci_hi", "n_reps")
  }

  /** Wilson score interval for a per-group success rate — the
    * small-sample-safe rate CI (never escapes [0,1], sane at s=0 or
    * s=n, unlike the Wald interval) for conversion/pass-rate
    * dashboards. One count aggregate per group, closed-form
    * arithmetic after. Returns (group, n, s, rate, wilson_lo,
    * wilson_hi).
    */
  def wilsonInterval(df: DataFrame, groupCol: String, successCol: String,
      z: Double = 1.96): DataFrame = {
    require(z > 0, s"z must be positive, got $z")
    val zz = z * z
    val agg = df.groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"),
        sum(col(successCol).cast("boolean").cast("int")).as("s"))
      .withColumn("rate", col("s").cast("double") / col("n"))
    val denom = lit(1.0) + lit(zz) / col("n")
    val center = (col("rate") + lit(zz) / (lit(2.0) * col("n"))) / denom
    val half = (lit(z) * sqrt(col("rate") * (lit(1.0) - col("rate")) /
      col("n") + lit(zz) / (lit(4.0) * col("n") * col("n")))) / denom
    // clamp: the Wilson endpoints are mathematically in [0,1] but the
    // float evaluation can land an ulp outside at p̂ = 0 or 1
    agg.select(col("group"), col("n"), col("s"), col("rate"),
      greatest(center - half, lit(0.0)).as("wilson_lo"),
      least(center + half, lit(1.0)).as("wilson_hi"))
  }

  /** Always-valid sequential test (mSPRT with a normal mixture prior,
    * Johari et al. 2017 "Peeking at A/B/n Tests") per treatment arm
    * per period: users accrue at their first event, convert at their
    * first `convType`; at each period boundary the cumulative
    * two-sample statistic feeds the closed-form mixture likelihood
    * ratio  ln Λ = ½·ln(V/(V+τ²)) + θ̂²τ²/(2V(V+τ²))  with pooled
    * Bernoulli variance V = p̄(1−p̄)(1/n_t + 1/n_c), and the
    * always-valid p-value is the running min of 1/Λ — valid under
    * continuous monitoring, unlike the fixed-horizon z-test.
    *
    * Returns one row per (variant, period): cumulative counts, theta
    * (rate difference), log_lambda, p_value. Periods with an
    * empty arm carry null statistics (nothing to test yet).
    *
    * Scale shape: one per-user aggregate (entry/conversion period),
    * one (variant, period) count aggregate, a dense tiny
    * periods×arms grid (both driver-bounded: periods = time range /
    * periodSec, arms = the experiment's arms), cumulative windows
    * partitioned by variant over that tiny grid. The event log is
    * touched once.
    */
  def sequentialTest(events: DataFrame, userCol: String,
      variantCol: String, secCol: String, typeCol: String,
      convType: String, controlVariant: String, periodSec: Long,
      tau2: Double = 0.0001): DataFrame = {
    require(periodSec > 0 && tau2 > 0)
    val perUser = events
      .groupBy(col(userCol).as("user"), col(variantCol).as("variant"))
      .agg(
        floor(min(col(secCol)) / periodSec).cast("long").as("entry_p"),
        floor(min(when(col(typeCol) === convType, col(secCol))) / periodSec)
          .cast("long").as("conv_p"))
    // dense (variant × period) grid — both sides tiny by construction
    val periods = perUser.select(col("entry_p").as("period"))
      .union(perUser.select(col("conv_p")).where(col("conv_p").isNotNull))
      .distinct()
    val variants = perUser.select("variant").distinct()
    val grid = variants.crossJoin(broadcast(periods))
    // conversions can land in a LATER period than entry: count them on
    // their own period
    val convPeriod = perUser.where(col("conv_p").isNotNull)
      .groupBy(col("variant"), col("conv_p").as("period"))
      .agg(count(lit(1)).as("converted"))
    val entryPeriod = perUser
      .groupBy(col("variant"), col("entry_p").as("period"))
      .agg(count(lit(1)).as("entered"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("variant").orderBy("period")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = grid
      .join(entryPeriod, Seq("variant", "period"), "left")
      .join(convPeriod, Seq("variant", "period"), "left")
      .withColumn("n", sum(coalesce(col("entered"), lit(0L))).over(w))
      .withColumn("c", sum(coalesce(col("converted"), lit(0L))).over(w))
      .select("variant", "period", "n", "c")
    val ctl = cum.where(col("variant") === controlVariant)
      .select(col("period"), col("n").as("n_c"), col("c").as("conv_c"))
    val trt = cum.where(col("variant") =!= controlVariant)
      .join(ctl, Seq("period"))
    val pBar = (col("c") + col("conv_c")).cast("double") /
      (col("n") + col("n_c"))
    val vCol = pBar * (lit(1.0) - pBar) *
      (lit(1.0) / col("n") + lit(1.0) / col("n_c"))
    val theta = col("c").cast("double") / col("n") -
      col("conv_c").cast("double") / col("n_c")
    val scored = trt
      .withColumn("theta",
        when(col("n") > 0 && col("n_c") > 0, theta))
      .withColumn("v", when(col("theta").isNotNull && vCol > 0, vCol))
      .withColumn("log_lambda",
        when(col("v").isNotNull,
          lit(0.5) * log(col("v") / (col("v") + tau2)) +
            col("theta") * col("theta") * tau2 /
              (lit(2.0) * col("v") * (col("v") + tau2))))
    val wMin = org.apache.spark.sql.expressions.Window
      .partitionBy("variant").orderBy("period")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    scored
      .withColumn("p_value",
        min(when(col("log_lambda").isNotNull,
          least(lit(1.0), exp(-col("log_lambda"))))).over(wMin))
      .select(col("variant"), col("period"),
        col("n").as("n_t"), col("c").as("conv_t"),
        col("n_c"), col("conv_c"), col("theta"),
        col("log_lambda"), col("p_value"))
  }

  /** Inter-event gap statistics per event type: for each event, the
    * gap since the user's PREVIOUS event (any type); aggregated per
    * the current event's type — "how long do users dwell before a
    * purchase vs a click", and the input for choosing a sessionize
    * gap. One per-user lag window + one hash aggregate.
    */
  def interEventGaps(events: DataFrame, userCol: String, secCol: String,
      idCol: String, typeCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(col(secCol), col(idCol))
    events
      .withColumn("__gap", col(secCol) - lag(col(secCol), 1).over(w))
      .filter(col("__gap").isNotNull)
      .groupBy(col(typeCol).as("event_type"))
      .agg(count(lit(1)).as("n"),
        min("__gap").as("min_gap"),
        max("__gap").as("max_gap"),
        avg("__gap").as("mean_gap"))
      .orderBy("event_type")
  }

  /** Goh–Barabási temporal texture of inter-event times (Goh &
    * Barabási 2008): per arriving event type, burstiness
    * B = (σ−μ)/(σ+μ) over the gaps since the same user's previous
    * event (−1 periodic, 0 Poissonian, →1 bursty) and the memory
    * coefficient M = Pearson correlation of consecutive gap pairs
    * within a user's stream. The one-table read behind rate-limit
    * and anomaly thresholds: a bursty-but-memoryless type needs a
    * token bucket, a high-memory type a trend detector.
    *
    * Scale shape: the [[interEventGaps]] shape — one user-keyed lag
    * window (plus one more lag for the consecutive pair) and one hash
    * aggregate per type.
    */
  def burstiness(events: DataFrame, userCol: String, secCol: String,
      idCol: String, typeCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(col(secCol), col(idCol))
    events
      .withColumn("__gap",
        (col(secCol) - lag(col(secCol), 1).over(w)).cast("double"))
      .withColumn("__prev_gap", lag(col("__gap"), 1).over(w))
      .filter(col("__gap").isNotNull)
      .groupBy(col(typeCol).as("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        avg("__gap").as("mean_gap"),
        stddev_pop(col("__gap")).as("sd_gap"),
        corr(col("__prev_gap"), col("__gap")).as("memory"))
      .withColumn("burstiness",
        when(col("sd_gap") + col("mean_gap") > 0,
          (col("sd_gap") - col("mean_gap")) /
            (col("sd_gap") + col("mean_gap"))))
      .select(col("event_type"), col("n_gaps"), col("mean_gap"),
        col("sd_gap"), col("burstiness"), col("memory"))
      .orderBy("event_type")
  }

  /** Multi-touch attribution: each conversion's credit splits across
    * ALL its preceding touches within `lookbackSec` — `linear` (1/n
    * per touch) and `time_decay` (weight 2^(−Δt/halflife), normalized
    * per conversion) — the fractional complements to
    * [[lastTouchAttribution]]'s winner-take-all. Returns per
    * touch type: (touch_type, n_touches, linear_credit,
    * decay_credit); credit columns each sum to the number of
    * attributed conversions.
    *
    * Scale shape: the user-keyed conversions⋈touches join is bounded
    * by the lookback window per conversion (the contract that makes
    * multi-touch tractable anywhere); per-conversion normalizers are
    * windows partitioned by conversion id (bounded groups), and the
    * final credit roll-up is a hash aggregate.
    */
  def multiTouchAttribution(events: DataFrame, userCol: String,
      secCol: String, idCol: String, typeCol: String, convType: String,
      touchTypes: Seq[String], lookbackSec: Long,
      halflifeSec: Long): DataFrame = {
    require(touchTypes.nonEmpty && lookbackSec > 0 && halflifeSec > 0)
    val conv = events.filter(col(typeCol) === convType)
      .select(col(userCol).as("user"), col(idCol).as("conv_id"),
        col(secCol).as("conv_sec"))
    val touch = events.filter(col(typeCol).isInCollection(touchTypes))
      .select(col(userCol).as("user"), col(idCol).as("touch_id"),
        col(secCol).as("touch_sec"), col(typeCol).as("touch_type"))
    val paired = conv.join(touch, "user")
      .filter(col("touch_sec") <= col("conv_sec") &&
        col("touch_sec") > col("conv_sec") - lookbackSec &&
        col("touch_id") =!= col("conv_id"))
      .withColumn("w", pow(lit(2.0),
        -(col("conv_sec") - col("touch_sec")).cast("double") / halflifeSec))
    val wConv = org.apache.spark.sql.expressions.Window.partitionBy("conv_id")
    paired
      .withColumn("n", count(lit(1)).over(wConv))
      .withColumn("wsum", sum("w").over(wConv))
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_touches"),
        sum(lit(1.0) / col("n")).as("linear_credit"),
        sum(col("w") / col("wsum")).as("decay_credit"))
      .orderBy("touch_type")
  }

  /** Cohort LTV curves: users grouped by first-active period
    * (cohort), value summed per (cohort, age) where age = period −
    * cohort, and the running cumulative value per user reported per
    * age — "how much is a January user worth by day 30", the
    * lifetime-value read every growth team plots. Two hash aggregates
    * + one cumulative window over the tiny (cohort × age) grid.
    * Returns (cohort, age, n_users, value, cum_value_per_user).
    */
  def cohortLtv(events: DataFrame, userCol: String, secCol: String,
      valCol: String, periodSec: Long): DataFrame = {
    require(periodSec > 0)
    val withP = events.select(col(userCol).as("user"),
      floor(col(secCol) / periodSec).cast("long").as("period"),
      col(valCol).cast("double").as("v"))
    val cohorts = withP.groupBy("user")
      .agg(min("period").as("cohort"))
    val perAge = withP.join(cohorts, "user")
      .groupBy(col("cohort"), (col("period") - col("cohort")).as("age"))
      .agg(sum("v").as("value"))
    val sizes = cohorts.groupBy("cohort").agg(count(lit(1)).as("n_users"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cohort").orderBy("age")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    perAge.join(sizes, "cohort")
      .withColumn("cum_value_per_user",
        sum("value").over(w) / col("n_users"))
      .select("cohort", "age", "n_users", "value", "cum_value_per_user")
      .orderBy("cohort", "age")
  }

  /** Growth accounting: per period, how many users are `new_users`
    * (first ever active), `retained` (also active the previous
    * period), `resurrected` (active before, but not last period) —
    * and `churned` (active last period, absent now, charged to the
    * CURRENT period). The standard DAU/MAU decomposition explaining
    * WHY an active-user count moved. One (user, period) distinct
    * aggregate, one per-user lag window (bounded by each user's
    * active-period count), one final count aggregate; churn rides the
    * same lag by charging period+1.
    *
    * The final observed period is treated as CENSORED: users active
    * in period max cannot be called churned in max+1 — whether they
    * return is unknowable from this data — so no churn row is emitted
    * past the horizon (the max period comes from a 1-row broadcast
    * aggregate, not a second scan).
    */
  def growthAccounting(events: DataFrame, userCol: String,
      secCol: String, periodSec: Long): DataFrame = {
    require(periodSec > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user").orderBy("period")
    val active = events
      .select(col(userCol).as("user"),
        floor(col(secCol) / periodSec).cast("long").as("period"))
      .distinct()
      .withColumn("prev", lag("period", 1).over(w))
    val states = active.select(col("period"),
      when(col("prev").isNull, "new_users")
        .when(col("prev") === col("period") - 1, "retained")
        .otherwise("resurrected").as("state"))
    // churn: a user active in p and not in p+1 churns in p+1 — emit
    // the charge row from the SAME lag pass (next-period comparison
    // via lead), then union
    val wLead = org.apache.spark.sql.expressions.Window
      .partitionBy("user").orderBy("period")
    val distinctPeriods = events
      .select(col(userCol).as("user"),
        floor(col(secCol) / periodSec).cast("long").as("period"))
      .distinct()
    val horizon = broadcast(distinctPeriods.agg(max("period").as("maxp")))
    val churn = distinctPeriods
      .withColumn("next", lead("period", 1).over(wLead))
      .filter(col("next").isNull || col("next") > col("period") + 1)
      .select((col("period") + 1).as("period"), lit("churned").as("state"))
      .crossJoin(horizon)
      .filter(col("period") <= col("maxp"))
      .drop("maxp")
    states.unionByName(churn)
      .groupBy("period")
      .agg(
        sum(when(col("state") === "new_users", 1).otherwise(0)).as("new_users"),
        sum(when(col("state") === "retained", 1).otherwise(0)).as("retained"),
        sum(when(col("state") === "resurrected", 1).otherwise(0)).as("resurrected"),
        sum(when(col("state") === "churned", 1).otherwise(0)).as("churned"))
      .orderBy("period")
  }

  /** STL-lite seasonal decomposition of an event-count series:
    * bucket the stream to a `periodSec` grain, split each bucket's
    * count into trend (centered moving average over ±seasonLen/2
    * observed buckets, partial at the edges) + seasonal (per-phase
    * mean of the detrended values, centered so the indices sum to
    * ~0) + residual — the "is this hour actually unusual, or is it
    * just 3am" read that must precede any count-based anomaly alarm.
    * Returns (bucket, phase, y, trend, seasonal, residual) per
    * OBSERVED bucket (a gap in the stream is a missing row, not a
    * zero — densify upstream if zeros are meaningful).
    *
    * Scale shape: the corpus collapses to one row per bucket in the
    * first hash aggregate; everything after (windows, phase means)
    * runs on that driver-bounded table (time-range / periodSec rows),
    * like the other period-grid analytics here.
    */
  def seasonalDecompose(events: DataFrame, secCol: String,
      periodSec: Long, seasonLen: Int): DataFrame = {
    require(periodSec > 0, s"periodSec must be positive, got $periodSec")
    require(seasonLen >= 2, s"seasonLen must be >= 2, got $seasonLen")
    val half = seasonLen / 2
    val counts = events
      .select(floor(col(secCol) / periodSec).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("y"))
    val wTrend = org.apache.spark.sql.expressions.Window
      .orderBy("bucket").rowsBetween(-half, half)
    val det = counts
      .withColumn("trend", avg(col("y")).over(wTrend))
      .withColumn("phase", pmod(col("bucket"), lit(seasonLen.toLong)))
      .withColumn("det", col("y") - col("trend"))
    val phaseMeans = det.groupBy("phase").agg(avg("det").as("s_raw"))
    val center = phaseMeans.agg(avg("s_raw").as("s_mean"))
    det.join(broadcast(phaseMeans), Seq("phase"))
      .crossJoin(broadcast(center))
      .withColumn("seasonal", col("s_raw") - col("s_mean"))
      .withColumn("residual", col("y") - col("trend") - col("seasonal"))
      .select("bucket", "phase", "y", "trend", "seasonal", "residual")
  }

  /** Slowly-changing-dimension (SCD Type 2) history builder: collapse
    * an observation stream (key, attribute, timestamp) into validity
    * intervals — one row per value RUN, `valid_from` inclusive,
    * `valid_to` exclusive (NULL = current), `version` 1-based per
    * key. The warehouse-dimension shape every training-data pipeline
    * needs the moment a label or user attribute can change under it
    * (join facts AS OF their event time, not to today's value —
    * silent leakage otherwise). Re-observations of the same value do
    * NOT open a new version (runs collapse); ties on the timestamp
    * break by observation order `obsCol` for determinism.
    *
    * Scale shape: one shuffle keyed by `keyCol`; lag/lead windows
    * run inside each key partition.
    */
  def scd2(df: DataFrame, keyCol: String, attrCol: String,
      secCol: String, obsCol: String): DataFrame = {
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("sec"), col("obs"))
    val changes = df
      .select(col(keyCol).as("key"), col(attrCol).as("value"),
        col(secCol).cast("long").as("sec"), col(obsCol).as("obs"))
      .withColumn("rn", row_number().over(wk))
      .withColumn("prev", lag("value", 1).over(wk))
      // null-SAFE inequality: a run of NULL values is still one run
      .filter(col("rn") === 1 || !(col("prev") <=> col("value")))
    changes
      .withColumn("version", row_number().over(wk))
      .withColumn("valid_from", col("sec"))
      .withColumn("valid_to", lead("sec", 1).over(wk))
      .select("key", "value", "version", "valid_from", "valid_to")
  }

  /** Temporal (AS-OF validity) lookup against an [[scd2]] dimension:
    * each fact row joins the version whose [valid_from, valid_to)
    * interval contains its timestamp; facts before the key's first
    * version get NULLs (left join — dropping them silently would
    * bias any downstream aggregate). The equi-join is on the KEY,
    * the interval check is a post-join filter inside each key group
    * — never a cartesian.
    */
  def scd2Lookup(facts: DataFrame, dim: DataFrame, keyCol: String,
      secCol: String): DataFrame = {
    val d = dim.select(col("key").as("__dim_key"), col("value"),
      col("version"), col("valid_from"), col("valid_to"))
    // interval containment rides ON the left join so unmatched facts
    // (no dim key, or timestamp before version 1) surface as NULLs
    // instead of vanishing; the equi term keeps it a hash join
    val cond = facts(keyCol) === d("__dim_key") &&
      facts(secCol) >= d("valid_from") &&
      (d("valid_to").isNull || facts(secCol) < d("valid_to"))
    facts.join(d, cond, "left").drop("__dim_key")
  }

  /** Sample-ratio-mismatch (SRM) check — the guardrail run BEFORE
    * reading any experiment metric: χ² of observed arm counts
    * against the design allocation. A randomizer bug shows up here
    * first, and every downstream read (abTest, CUPED, mSPRT) is
    * invalid if it fires. `expected`: design weights per arm
    * (normalized internally); arms observed but not in the design,
    * or designed but absent, both surface (absent arms contribute
    * their full expected count to χ²). Returns per-arm rows
    * (n_observed, n_expected, chi2_term) with the total χ² and df
    * repeated. Compare χ² to the α=0.001 critical value for df —
    * SRM convention is a very low α because the test runs on every
    * experiment every day.
    *
    * Scale shape: one variant hash aggregate; everything after is
    * arm-grid arithmetic.
    */
  def srmCheck(df: DataFrame, variantCol: String,
      expected: Map[String, Double]): DataFrame = {
    require(expected.nonEmpty && expected.values.forall(_ > 0),
      "expected allocation must be non-empty and positive")
    val spark = df.sparkSession
    import spark.implicits._
    val wTot = expected.values.sum
    val design = expected.toSeq.sortBy(_._1)
      .map { case (a, w) => (a, w / wTot) }
      .toDF("arm", "share")
    val obs = df.groupBy(col(variantCol).cast("string").as("arm"))
      .agg(count(lit(1)).as("n_observed"))
    val tot = obs.agg(sum("n_observed").as("n_total"))
    val grid = graft.core.PipelineCaches.persistTracked(
      design.join(obs, Seq("arm"), "full_outer")
        .crossJoin(broadcast(tot))
        .select(col("arm"),
          coalesce(col("n_observed"), lit(0L)).as("n_observed"),
          (coalesce(col("share"), lit(0.0)) * col("n_total"))
            .as("n_expected"))
        .withColumn("chi2_term",
          when(col("n_expected") > 0,
            (col("n_observed") - col("n_expected")) *
              (col("n_observed") - col("n_expected")) /
              col("n_expected"))
            // an undesigned arm with observations is an infinite-
            // surprise event; surface it as NULL term + designed=false
            .otherwise(lit(null).cast("double")))
        .withColumn("designed", col("n_expected") > 0))
    val totals = grid.agg(sum("chi2_term").as("chi2"),
      (sum(when(col("designed"), 1L).otherwise(0L)) - 1L).as("df"),
      max(!col("designed")).as("undesigned_arm"))
    grid.crossJoin(broadcast(totals))
      .select("arm", "n_observed", "n_expected", "chi2_term",
        "designed", "chi2", "df", "undesigned_arm")
  }

  /** Forecast-accuracy metrics over an (actual, predicted) series —
    * the scorecard for [[holtWinters]]/[[seasonalDecompose]]-class
    * models: MAE, RMSE, sMAPE (the symmetric percentage error that
    * stays defined at zero actuals; 0/0 terms contribute 0 by the
    * standard convention), and MASE (Hyndman–Koehler 2006: MAE
    * scaled by the in-sample seasonal-naive error ‖y_t −
    * y_{t−m}‖ — the scale-free "did we beat the naive forecaster",
    * < 1 = yes). Plain MAPE is deliberately omitted: count series
    * hit zero actuals and MAPE divides by them.
    *
    * `df`: (key, bucket, actual, predicted) per series. The naive
    * reference is the value at bucket − seasonLen via a BUCKET-OFFSET
    * self-join (not a row lag: on a gappy grid "m rows back" is a
    * different season entirely; on a dense grid the two agree).
    * Returns one row per key. Scale shape: one (key, bucket) hash
    * equi-join + one key aggregate — no window at all.
    */
  def forecastAccuracy(df: DataFrame, keyCol: String, bucketCol: String,
      actualCol: String, predCol: String,
      seasonLen: Int): DataFrame = {
    require(seasonLen >= 1, s"seasonLen must be >= 1, got $seasonLen")
    val base = graft.core.PipelineCaches.persistTracked(
      df.select(col(keyCol).as("key"),
        col(bucketCol).cast("long").as("bucket"),
        col(actualCol).cast("double").as("y"),
        col(predCol).cast("double").as("f")))
    val shifted = base.select(col("key"),
      (col("bucket") + seasonLen).as("bucket"),
      col("y").as("naive"))
    val e = base.join(shifted, Seq("key", "bucket"), "left")
    e.groupBy("key")
      .agg(count(lit(1)).as("n"),
        avg(abs(col("y") - col("f"))).as("mae"),
        sqrt(avg((col("y") - col("f")) * (col("y") - col("f"))))
          .as("rmse"),
        avg(when(abs(col("y")) + abs(col("f")) > 0,
          lit(2.0) * abs(col("y") - col("f")) /
            (abs(col("y")) + abs(col("f")))).otherwise(0.0))
          .as("smape"),
        avg(when(col("naive").isNotNull,
          abs(col("y") - col("naive")))).as("naive_mae"))
      .withColumn("mase", when(col("naive_mae") > 0,
        col("mae") / col("naive_mae")))
      .select("key", "n", "mae", "rmse", "smape", "naive_mae", "mase")
  }

  /** Seasonal-adjusted anomaly detection on the event-count series:
    * [[seasonalDecompose]]'s residual, standardized by the GLOBAL
    * residual population sigma, flagged at |z| > `zThreshold` — the
    * monitoring read that survives daily/weekly cycles (a raw
    * threshold fires every rush hour; a seasonally-adjusted one
    * fires only on what the cycle does NOT explain). Returns the
    * decomposition rows with (zscore, is_anomaly) appended. An
    * all-explained series (sigma = 0) flags nothing. Use
    * [[graft.ml.Profile.madOutliers]] on the residual column instead
    * when single huge spikes would inflate sigma and mask smaller
    * ones.
    *
    * Scale shape: [[seasonalDecompose]]'s bucket collapse + one
    * 1-row sigma aggregate broadcast back over the bucket grid.
    */
  def seasonalAnomalies(events: DataFrame, secCol: String,
      periodSec: Long, seasonLen: Int,
      zThreshold: Double = 3.0): DataFrame = {
    require(zThreshold > 0, s"zThreshold must be positive")
    val dec = graft.core.PipelineCaches.persistTracked(
      seasonalDecompose(events, secCol, periodSec, seasonLen))
    val sd = dec.agg(stddev_pop("residual").as("sigma"))
    dec.crossJoin(broadcast(sd))
      .withColumn("zscore", when(col("sigma") > 0,
        col("residual") / col("sigma")).otherwise(lit(0.0)))
      .withColumn("is_anomaly", abs(col("zscore")) > zThreshold)
      .select("bucket", "phase", "y", "trend", "seasonal", "residual",
        "zscore", "is_anomaly")
  }

  /** RFM segmentation: per user recency (seconds since last event at
    * `asOfSec`), frequency (event count) and monetary (value sum),
    * each scored into `k` quantile buckets, 1 = worst, k = best
    * (recent / frequent / high-spend). Returns (user, recency,
    * frequency, monetary, r_score, f_score, m_score, rfm) with rfm
    * the concatenated "RFM" digit code.
    *
    * Bucketing is TIE-COHERENT, not ntile: score(v) = 1 +
    * floor(cum_before(v) · k / N) over the per-dimension
    * distinct-VALUE cumulative count table, so equal values always
    * land in the same bucket (ntile splits ties across buckets by
    * arbitrary row order — non-reproducible across engines) and the
    * window runs over distinct values, never a global row sort of
    * the user table (the [[graft.ml.Eval.rocAuc]] midrank shape).
    * Better dimensions sort DESC for recency (small = recent = high
    * cum_before share... handled by scoring −recency) and ASC for
    * frequency/monetary.
    *
    * Scale shape: one user hash aggregate collapses events to one
    * row per user; each dimension adds a distinct-value count
    * aggregate + a bounded cumulative window + one value-keyed join
    * back. The monetary dimension's distinct-value table is
    * near-user-count-sized (sums are near-continuous even at cent
    * grain) — `bigDomain = true` swaps each dimension's window for
    * [[graft.functions.Ranks.distributedPrefixSums]]' two-pass
    * prefix (identical integer cumulative counts, no window).
    */
  def rfmSegments(events: DataFrame, userCol: String, secCol: String,
      valueCol: String, asOfSec: Long, k: Int = 5,
      bigDomain: Boolean = false): DataFrame = {
    require(k >= 2, "need at least 2 buckets")
    val W = org.apache.spark.sql.expressions.Window
    var big = bigDomain // || autoBig below, once usersPlan exists
    val usersPlan = events
      .select(col(userCol).as("user"), col(secCol).cast("long").as("sec"),
        col(valueCol).cast("double").as("v"))
      .groupBy("user")
      .agg((lit(asOfSec) - max("sec")).as("recency"),
        count(lit(1)).as("frequency"),
        // monetary is rounded to cents BEFORE bucketing: the true sum
        // of 2-decimal values is an exact multiple of 0.01, so the
        // round kills the engine-dependent summation-order ulp noise
        // that would otherwise split "equal" spenders across buckets
        round(sum("v"), 2).as("monetary"))
    // bigDomain's three eager pass-1 jobs (one per dimension) plus
    // the final join would each recompute the events aggregate from
    // scratch (no shared lazy plan for ReuseExchange to collapse) —
    // persist the user spine once instead of scanning events 4x
    big = bigDomain || graft.functions.Ranks.autoBig(usersPlan)
    val users =
      if (big) graft.core.PipelineCaches.persistTracked(usersPlan)
      else usersPlan

    // score(v): tie-coherent bucket 1 + floor(cum_before * k / N)
    // over the distinct-value cumulative table
    def scored(dim: String, asc: Boolean): DataFrame = {
      val vals = users.groupBy(col(dim).as("v"))
        .agg(count(lit(1)).as("c"))
      val w = W.orderBy(if (asc) col("v").asc else col("v").desc)
        .rowsBetween(W.unboundedPreceding, -1)
      val tot = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
      val cum =
        if (big) graft.functions.Ranks.distributedPrefixSums(
          vals, Seq(if (asc) col("v").asc else col("v").desc),
          Seq(col("c") -> "cb"), inclusive = false,
          totalsAs = Seq("n"))
        else vals
          .withColumn("cb", coalesce(sum("c").over(w), lit(0L)))
          .withColumn("n", sum("c").over(tot))
      cum.select(col("v").as(dim),
        (lit(1) + floor(col("cb") * k / col("n"))).cast("int")
          .as(s"${dim.charAt(0)}_score"))
    }
    users
      .join(scored("recency", asc = false), Seq("recency"))
      .join(scored("frequency", asc = true), Seq("frequency"))
      .join(scored("monetary", asc = true), Seq("monetary"))
      .select(col("user"), col("recency"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score"), col("f_score"), col("m_score")).as("rfm"))
  }

  /** Ordered event-type n-gram mining (PrefixSpan-lite for the
    * overwhelmingly common "what sequences happen" ask): per user the
    * time-ordered event-type sequence, sliding windows of length n
    * counted corpus-wide, patterns below `minSupport` users dropped.
    * Counting is PER OCCURRENCE (a user repeating a pattern counts
    * each time) with a parallel distinct-user support column.
    * Returns (pattern, occurrences, users).
    *
    * Scale shape: one user shuffle for the lead windows, then one
    * pattern hash aggregate — no per-user state beyond the n−1 lead
    * columns; ties in simultaneous events break on event id for a
    * deterministic sequence.
    */
  def sequentialPatterns(events: DataFrame, userCol: String,
      secCol: String, idCol: String, typeCol: String, n: Int,
      minSupport: Long = 1L): DataFrame = {
    require(n >= 2 && n <= 5, "pattern length 2..5")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user").orderBy(col("sec").asc, col("eid").asc)
    val base = events.select(col(userCol).as("user"),
      col(secCol).cast("long").as("sec"), col(idCol).as("eid"),
      col(typeCol).as("t0"))
    val withLeads = (1 until n).foldLeft(base) { (d, i) =>
      d.withColumn(s"t$i", lead(col("t0"), i).over(w))
    }
    val pat = concat_ws(">", (0 until n).map(i => col(s"t$i")): _*)
    withLeads
      .filter(col(s"t${n - 1}").isNotNull)
      .select(col("user"), pat.as("pattern"))
      .groupBy("pattern")
      .agg(count(lit(1)).as("occurrences"),
        countDistinct("user").as("users"))
      .filter(col("users") >= minSupport)
  }

  /** Holt–Winters additive triple exponential smoothing per series:
    * bucket counts per (series key, floor(sec/periodSec)) with the
    * dense per-key bucket range zero-filled (an empty period is a
    * real 0, not a gap), then the fully-specified recursion
    *
    *   init (first two seasons):
    *     l_{m−1} = mean(y_0..y_{m−1})
    *     b_{m−1} = (mean(y_m..y_{2m−1}) − mean(y_0..y_{m−1})) / m
    *     s_i     = y_i − l_{m−1}              for i = 0..m−1
    *   for t = m..T−1:
    *     fitted_t = l_{t−1} + b_{t−1} + s_{t−m}
    *     l_t = α(y_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
    *     b_t = β(l_t − l_{t−1}) + (1−β) b_{t−1}
    *     s_t = γ(y_t − l_t) + (1−γ) s_{t−m}
    *
    * Series shorter than 2 seasons are dropped (undefined init).
    * Returns (key, bucket, y, level, trend, seasonal, fitted) for
    * t ≥ m. One shuffle by key; the per-series recursion runs in a
    * bounded in-memory pass (bucket count = time range / period —
    * the same bounded-series contract as every kernel here).
    */
  def holtWinters(events: DataFrame, keyCol: String, secCol: String,
      periodSec: Long, seasonLen: Int, alpha: Double = 0.3,
      beta: Double = 0.1, gamma: Double = 0.2): DataFrame = {
    require(periodSec > 0 && seasonLen >= 2)
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1 &&
      gamma > 0 && gamma < 1)
    val spark = events.sparkSession
    import spark.implicits._
    val counts = events
      .select(col(keyCol).cast("string").as("key"),
        floor(col(secCol) / periodSec).cast("long").as("bucket"))
      .groupBy("key", "bucket").agg(count(lit(1)).as("y"))
    val spans = counts.groupBy("key")
      .agg(min("bucket").as("b0"), max("bucket").as("b1"))
    val dense = spans
      .select(col("key"), explode(sequence(col("b0"), col("b1")))
        .as("bucket"))
      .join(counts, Seq("key", "bucket"), "left")
      .select(col("key"), col("bucket"),
        coalesce(col("y"), lit(0L)).cast("double").as("y"))
    val m = seasonLen
    dense.as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val ys = it.toArray.sortBy(_._2)
        if (ys.length < 2 * m) Iterator.empty
        else {
          val y = ys.map(_._3)
          val mean1 = y.slice(0, m).sum / m
          val mean2 = y.slice(m, 2 * m).sum / m
          var l = mean1
          var b = (mean2 - mean1) / m
          val s = new Array[Double](y.length)
          var i = 0
          while (i < m) { s(i) = y(i) - mean1; i += 1 }
          val out = Array.newBuilder[(String, Long, Double, Double,
            Double, Double, Double)]
          var t = m
          while (t < y.length) {
            val fitted = l + b + s(t - m)
            val lPrev = l
            l = alpha * (y(t) - s(t - m)) + (1 - alpha) * (l + b)
            b = beta * (l - lPrev) + (1 - beta) * b
            s(t) = gamma * (y(t) - l) + (1 - gamma) * s(t - m)
            out += ((key, ys(t)._2, y(t), l, b, s(t), fitted))
            t += 1
          }
          out.result().iterator
        }
      }
      .toDF("key", "bucket", "y", "level", "trend", "seasonal", "fitted")
  }

  /** Quantile treatment effects: q_treat(p) − q_ctl(p) at each
    * requested quantile — WHERE in the distribution an experiment
    * moves the metric (a mean-only read hides "helped the tail, hurt
    * the median"). One mergeable-KLL aggregate per arm (bounded
    * state), all quantile arithmetic driver-side over the bounded
    * sketches. Returns (variant, p, q_treat, q_control, qte) per
    * treatment arm × quantile.
    */
  def quantileTreatmentEffects(perUser: DataFrame, variantCol: String,
      metricCol: String, controlVariant: String,
      ps: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9),
      sketchK: Int = 200): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p < 1))
    val spark = perUser.sparkSession
    import spark.implicits._
    val sketches = perUser
      .select(col(variantCol).cast("string").as("variant"),
        col(metricCol).cast("double").as("x"))
      .groupByKey(_.getString(0))
      .mapValues(_.getDouble(1))
      .agg(graft.agg.Qsketch.aggregator(sketchK).toColumn.name("sk"))
      .collect().toMap // bounded: one sketch per arm
    val ctl = sketches.getOrElse(controlVariant,
      throw new IllegalArgumentException(
        s"control arm '$controlVariant' absent"))
    val rows = for {
      (v, sk) <- sketches.toSeq.sortBy(_._1) if v != controlVariant
      p <- ps
    } yield {
      val qt = sk.quantile(p)
      val qc = ctl.quantile(p)
      (v, p, qt, qc, qt - qc)
    }
    rows.toDF("variant", "p", "q_treat", "q_control", "qte")
  }

  /** Rolling active-user counts per day: exact DAU (one per-day
    * distinct aggregate) plus approximate trailing-window actives
    * (WAU/MAU-style) from per-day mergeable HLL sketches — the
    * day×window fan-out joins SKETCHES (one bounded row per day),
    * never user rows, so a 30-day window over years of 100 TB events
    * costs |days|·|windows| sketch merges. Returns one row per day:
    * (day, dau, active_<w>d approx per window).
    */
  def activeUsers(events: DataFrame, userCol: String, secCol: String,
      windows: Seq[Int] = Seq(7, 30), err: Double = 0.01): DataFrame = {
    require(windows.nonEmpty && windows.forall(_ >= 2))
    val spark = events.sparkSession
    import spark.implicits._
    val perDay = events
      .select(floor(col(secCol) / 86400L).cast("long").as("day"),
        col(userCol).cast("string").as("u"))
      .groupByKey(_.getLong(0))
      .mapValues(_.getString(1))
      .agg(graft.agg.Hll.aggregator(err).toColumn.name("sk"))
      .map { case (d, sk) => (d, graft.agg.Hll.toBytes(sk)) }
      .toDF("day", "sk")
      .localCheckpoint()
    val exact = events
      .select(floor(col(secCol) / 86400L).cast("long").as("day"),
        col(userCol).as("u"))
      .groupBy("day").agg(countDistinct(col("u")).as("dau"))
    val merged = windows.foldLeft(exact) { (acc, w) =>
      val win = perDay.alias("a")
        .join(perDay.alias("b"),
          col("b.day") > col("a.day") - w && col("b.day") <= col("a.day"))
        .groupBy(col("a.day").as("day"))
        .agg(graft.agg.Hll.mergeBytesUdaf(err)(col("b.sk")).as("m"))
      val est = win
        .as[(Long, Array[Byte])]
        .map { case (d, bytes) => (d, graft.agg.Hll.fromBytes(bytes).estimate) }
        .toDF("day", s"active_${w}d")
      acc.join(est, Seq("day"), "left")
    }
    merged.orderBy("day")
  }

  /** Winsorized per-arm metric means: clamp each user's metric to the
    * arm's [pLo, pHi] sketch-quantile cutoffs before averaging — the
    * standard heavy-tail guard for revenue-like experiment metrics
    * (one whale user should not decide the test). Cutoffs come from
    * one per-arm mergeable-KLL aggregate (deterministic, bounded
    * state), broadcast back onto the users; the clamped mean/variance
    * is a second hash aggregate. Returns (variant, n_users, mean_raw,
    * mean_wins, var_wins, lo_cut, hi_cut, n_clamped).
    */
  def winsorizedMeans(perUser: DataFrame, variantCol: String,
      metricCol: String, pLo: Double = 0.01, pHi: Double = 0.99,
      sketchK: Int = 200): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi)
    val spark = perUser.sparkSession
    import spark.implicits._
    val cuts = perUser
      .select(col(variantCol).cast("string").as("variant"),
        col(metricCol).cast("double").as("x"))
      .groupByKey(r => r.getString(0))
      .mapValues(r => r.getDouble(1))
      .agg(graft.agg.Qsketch.aggregator(sketchK).toColumn.name("sk"))
      .map { case (v, sk) => (v, sk.quantile(pLo), sk.quantile(pHi)) }
      .toDF("variant", "lo_cut", "hi_cut")
    perUser
      .select(col(variantCol).cast("string").as("variant"),
        col(metricCol).cast("double").as("x"))
      .join(broadcast(cuts), "variant")
      .withColumn("xw", greatest(least(col("x"), col("hi_cut")), col("lo_cut")))
      .groupBy("variant")
      .agg(count(lit(1)).as("n_users"),
        avg("x").as("mean_raw"),
        avg("xw").as("mean_wins"),
        var_pop(col("xw")).as("var_wins"),
        first("lo_cut").as("lo_cut"), first("hi_cut").as("hi_cut"),
        sum(when(col("x") =!= col("xw"), 1).otherwise(0)).as("n_clamped"))
  }

  /** Top-k most frequent length-`len` event-type paths (contiguous
    * per-user subsequences in (sec, id) order) — "what do users
    * actually do", the path-mining summary downstream of
    * [[transitionCounts]]'s single-step view. One window pass builds
    * the sliding type tuples (len−1 lags), a hash aggregate counts
    * them, and the global top-k is a bounded TakeOrderedAndProject —
    * no per-path shuffle beyond the count.
    */
  def commonPaths(events: DataFrame, userCol: String, secCol: String,
      idCol: String, typeCol: String, len: Int = 3,
      topK: Int = 20): DataFrame = {
    require(len >= 2 && topK >= 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(col(secCol), col(idCol))
    val lagged = (len - 1 to 1 by -1).map(i => lag(col(typeCol), i).over(w)) :+
      col(typeCol)
    events
      .withColumn("__path", concat_ws(" > ", lagged: _*))
      // a full window is present only when the oldest lag is defined
      .withColumn("__ok", lag(col(typeCol), len - 1).over(w).isNotNull)
      .filter(col("__ok"))
      .groupBy(col("__path").as("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(topK)
  }

  /** Experiment power analysis per treatment arm — the planning
    * companion to [[abTest]]: at the CURRENT sample sizes and pooled
    * rate, the minimum detectable effect
    * MDE = (z_{1−α/2} + z_{power})·√(p̄(1−p̄)(1/n_t + 1/n_c)),
    * and the per-arm sample size required to detect the OBSERVED lift
    * n_req = (z_{1−α/2} + z_{power})²·2·p̄(1−p̄)/δ² (null when the
    * observed lift is 0). Standard normal quantiles are passed as
    * literals (defaults: two-sided α=0.05, power=0.8), so the whole
    * report is closed-form arithmetic over [[abTest]]-shaped
    * aggregates — two hash aggregates and a broadcast control row,
    * replayable by any engine.
    */
  def powerAnalysis(events: DataFrame, userCol: String,
      variantCol: String, typeCol: String, convType: String,
      controlVariant: String,
      zAlpha: Double = 1.9599639845400545,
      zPower: Double = 0.8416212335729143): DataFrame = {
    val zSum = zAlpha + zPower
    val perUser = events
      .groupBy(col(userCol).as("user"), col(variantCol).as("variant"))
      .agg(max(when(col(typeCol) === convType, 1).otherwise(0))
        .as("converted"))
    val perVariant = perUser.groupBy("variant")
      .agg(count(lit(1)).as("n_users"),
        sum("converted").cast("long").as("n_converted"))
    val control = perVariant.filter(col("variant") === controlVariant)
      .select(col("n_users").as("c_users"),
        col("n_converted").as("c_converted"))
    val pBar = (col("n_converted") + col("c_converted")).cast("double") /
      (col("n_users") + col("c_users"))
    val se = sqrt(pBar * (lit(1.0) - pBar) *
      (lit(1.0) / col("n_users") + lit(1.0) / col("c_users")))
    val lift = col("n_converted").cast("double") / col("n_users") -
      col("c_converted").cast("double") / col("c_users")
    perVariant.filter(col("variant") =!= controlVariant)
      .crossJoin(broadcast(control))
      .withColumn("lift", lift)
      .withColumn("mde_abs", lit(zSum) * se)
      .withColumn("n_required",
        when(abs(col("lift")) > 0,
          ceil(lit(zSum * zSum) * lit(2.0) * pBar * (lit(1.0) - pBar) /
            (col("lift") * col("lift"))).cast("long")))
      .select("variant", "n_users", "c_users", "lift", "mde_abs",
        "n_required")
  }

  /** Driver-side closed form of [[sequentialTest]]'s statistic — the
    * shared kernel for the streaming monitor: None when either arm is
    * empty or the pooled variance degenerates (all or no conversions).
    */
  def msprtLogLambda(convT: Long, nT: Long, convC: Long, nC: Long,
      tau2: Double): Option[Double] =
    if (nT <= 0 || nC <= 0) None
    else {
      val pBar = (convT + convC).toDouble / (nT + nC)
      val v = pBar * (1 - pBar) * (1.0 / nT + 1.0 / nC)
      if (v <= 0) None
      else {
        val theta = convT.toDouble / nT - convC.toDouble / nC
        Some(0.5 * math.log(v / (v + tau2)) +
          theta * theta * tau2 / (2 * v * (v + tau2)))
      }
    }

  /** Per-key exponentially-weighted moving average over the event
    * stream: EWMA_t = α·x_t + (1−α)·EWMA_{t−1} along each key's
    * (sec, id)-ordered events, seeded at the first value (the pandas
    * `ewm(adjust=false)` rule). One shuffle + in-partition secondary
    * sort (the [[graft.typed]] SortedGrouped machinery) and a
    * streaming O(1)-state fold — never a per-key collect, any events-
    * per-key cardinality.
    */
  def ewma(events: DataFrame, keyCol: String, secCol: String,
      idCol: String, valCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events.select(col(keyCol).cast("long"),
        col(secCol).cast("long"), col(idCol).cast("long"),
        col(valCol).cast("double"))
      .as[(Long, Long, Long, Double)]
    graft.typed.TypedPipe.from(ds)
      .map { case (k, sec, id, v) => (k, (sec, id, v)) }
      .group[Long, (Long, Long, Double)]
      .sortBy { case (sec, id, _) => (sec, id) }
      .mapValueStream { (_, vs) =>
        var state = Double.NaN
        vs.map { case (sec, id, v) =>
          state = if (state.isNaN) v else alpha * v + (1 - alpha) * state
          (sec, id, state)
        }
      }
      .ds.map { case (k, (sec, id, e)) => (k, sec, id, e) }
      .toDF(keyCol, secCol, idCol, "ewma")
  }

  /** Per-key CUSUM change-point statistics (Page 1954) over the
    * (sec, id)-ordered value stream: s⁺ₜ = max(0, s⁺ₜ₋₁ + xₜ − μ0 − k)
    * accumulates upward level shifts, s⁻ₜ = max(0, s⁻ₜ₋₁ + μ0 − k − xₜ)
    * downward ones, and `alarm` fires while either exceeds `h` — the
    * sequential drift detector for per-key event-rate/metric
    * monitoring (EWMA smooths; CUSUM *detects*). Same scale shape as
    * [[ewma]]: one shuffle + in-partition secondary sort + an
    * O(1)-state streaming fold, any events-per-key cardinality.
    */
  def cusum(events: DataFrame, keyCol: String, secCol: String,
      idCol: String, valCol: String, mu0: Double, slack: Double,
      h: Double): DataFrame = {
    require(slack >= 0 && h > 0)
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events.select(col(keyCol).cast("long"),
        col(secCol).cast("long"), col(idCol).cast("long"),
        col(valCol).cast("double"))
      .as[(Long, Long, Long, Double)]
    graft.typed.TypedPipe.from(ds)
      .map { case (k, sec, id, v) => (k, (sec, id, v)) }
      .group[Long, (Long, Long, Double)]
      .sortBy { case (sec, id, _) => (sec, id) }
      .mapValueStream { (_, vs) =>
        var sPos = 0.0
        var sNeg = 0.0
        vs.map { case (sec, id, v) =>
          sPos = math.max(0.0, sPos + v - mu0 - slack)
          sNeg = math.max(0.0, sNeg + mu0 - slack - v)
          (sec, id, sPos, sNeg, sPos > h || sNeg > h)
        }
      }
      .ds.map { case (k, (sec, id, p, n, a)) => (k, sec, id, p, n, a) }
      .toDF(keyCol, secCol, idCol, "s_pos", "s_neg", "alarm")
  }

  /** Windowed trending report: for each tumbling `windowSec` window,
    * the top-`k` event types by count (ties to the lexicographically
    * first type), each with its count, dense 1-based `rank`, the
    * previous window's count for the same type (0 when absent) and
    * the `lift` ratio count/prev (null for a new entrant) — "what is
    * big right now and is it rising".
    *
    * Scale shape: one hash aggregate to (window, type) counts with
    * map-side partials, then a bounded-PQ top-k AGGREGATOR per window
    * (partial top-k before the exchange — never a per-window sort of
    * all types, so a high-cardinality type column — item ids, urls —
    * cannot blow up a window partition), and one skinny join of the
    * k·windows winners back to the counts table for the previous
    * window's number.
    */
  def trending(events: DataFrame, secCol: String, typeCol: String,
      windowSec: Long, k: Int): DataFrame = {
    require(windowSec > 0 && k > 0, "windowSec and k must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    val counts = events
      .select(col(secCol).cast("long").as("__sec"),
        col(typeCol).as("etype"))
      .select(expr(s"__sec div ${windowSec}L").as("win"), col("etype"))
      .groupBy("win", "etype").agg(count(lit(1)).as("n"))
      .persist()
    implicit val topOrd: Ordering[(Long, String)] =
      Ordering.by[(Long, String), (Long, String)](p => (-p._1, p._2))(
        Ordering.Tuple2(Ordering.Long, Ordering.String))
    val top = new graft.typed.Grouped(
        counts.select(col("win"), col("n"), col("etype"))
          .as[(Long, Long, String)]
          .map { case (w, n, t) => (w, (n, t)) })
      .sortedTake(k)
      .ds.flatMap { case (w, tops) =>
        tops.zipWithIndex.map { case ((n, t), i) => (w, t, n, i + 1L) }
      }
      .toDF("win", "etype", "n", "rank")
    val out = top
      .join(counts.select((col("win") + 1L).as("win"), col("etype"),
        col("n").as("prev_n")), Seq("win", "etype"), "left")
      .select(col("win"), col("etype"), col("n"), col("rank"),
        coalesce(col("prev_n"), lit(0L)).as("prev_n"),
        when(col("prev_n").isNotNull,
          col("n").cast("double") / col("prev_n")).as("lift"))
    counts.unpersist(blocking = false)
    out
  }

  /** Cohort retention grid: users are cohorted by the period of their
    * FIRST `anchorType` event (period = floor(sec / periodSec)), and
    * counted in (cohort, period-offset p) when they have any
    * `returnTypes` event p periods later (p ≥ 0; p = 0 is the anchor
    * period itself). Output: (cohort, period, n_users) — distinct
    * users per cell.
    *
    * Two shuffles at any scale: the per-user anchor min, and the
    * distinct (cohort, p, user) aggregation.
    */
  def retention(events: DataFrame, userCol: String, secCol: String,
      typeCol: String, anchorType: String, returnTypes: Seq[String],
      periodSec: Long): DataFrame = {
    val e = events.select(col(userCol).cast("long").as("user"),
      floor(col(secCol).cast("long") / periodSec).cast("long").as("w"),
      col(typeCol).as("tp"))
    val anchors = e.filter(col("tp") === anchorType)
      .groupBy("user").agg(min("w").as("cohort"))
    e.filter(col("tp").isin(returnTypes: _*))
      .join(anchors, "user")
      .filter(col("w") >= col("cohort"))
      .select(col("cohort"), (col("w") - col("cohort")).as("period"), col("user"))
      .distinct()
      .groupBy("cohort", "period").agg(count(lit(1)).as("n_users"))
  }

  /** Last-touch attribution: map every `conversionType` event to the
    * user's most recent `touchTypes` event at-or-before it, attributed
    * only when the touch falls within `lookbackSec` seconds. Output:
    * one row per conversion — (user_id, conv_id, conv_sec, touch_id,
    * touch_type, touch_sec, attributed); touch fields are null when no
    * touch qualifies.
    *
    * Determinism: several touches can share a (user, second) — the
    * canonical one is the max `idCol` at that second (and the as-of
    * pick at equal seconds follows ASOF >= semantics), so results are
    * exactly replayable cross-engine.
    *
    * Scale shape: touches are pre-reduced per (user, second) with one
    * hash aggregation, then attached with ONE as-of join (union +
    * per-user running window — no per-conversion range scan); the
    * lookback is a post-filter on the attached pair. Never a
    * conversions × touches join.
    */
  def lastTouchAttribution(events: DataFrame, userCol: String,
      secCol: String, idCol: String, typeCol: String,
      conversionType: String, touchTypes: Seq[String],
      lookbackSec: Long): DataFrame = {
    val conv = events.filter(col(typeCol) === conversionType)
      .select(col(userCol).as("user_id"), col(idCol).as("conv_id"),
        col(secCol).cast("long").as("conv_sec"))
    val touches = events.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol).as("user_id"),
        col(secCol).cast("long").as("touch_sec"),
        col(idCol).as("touch_id"), col(typeCol).as("touch_type"))
      .groupBy("user_id", "touch_sec")
      .agg(max("touch_id").as("touch_id"),
        max_by(col("touch_type"), col("touch_id")).as("touch_type"))
    val joined = graft.join.Joins.asofJoin(conv, touches, Seq("user_id"),
      "conv_sec", "touch_sec", Seq("touch_id", "touch_type", "touch_sec"),
      how = "left")
    val ok = col("touch_sec").isNotNull &&
      col("conv_sec") - col("touch_sec") <= lookbackSec
    joined.select(col("user_id"), col("conv_id"), col("conv_sec"),
      when(ok, col("touch_id")).as("touch_id"),
      when(ok, col("touch_type")).as("touch_type"),
      when(ok, col("touch_sec")).as("touch_sec"),
      ok.as("attributed"))
  }

  /** Conversion latency per user: seconds from the user's FIRST
    * `from`-event to the first `to`-event at-or-after it. Users
    * without such a pair are omitted. Two key-copartitioned
    * aggregations + one join — deliberately not a per-user ordered
    * window, so same-second ties need no cross-engine order contract
    * (the `>=` filter is inclusive either way).
    *
    * The per-user latencies feed either an exact summary or, at
    * scale, a mergeable [[graft.agg.Qsketch]] per cohort — the
    * "time-to-convert distribution per segment" query.
    */
  def conversionLatency(events: DataFrame, userCol: String,
      secCol: String, typeCol: String, from: String, to: String): DataFrame = {
    val base = events.select(col(userCol).as("user_id"),
      col(secCol).cast("long").as("sec"), col(typeCol).as("t"))
    val firstFrom = base.filter(col("t") === from)
      .groupBy("user_id").agg(min("sec").as("__ff"))
    base.filter(col("t") === to)
      .join(firstFrom, "user_id")
      .filter(col("sec") >= col("__ff"))
      .groupBy("user_id", "__ff")
      .agg(min("sec").as("__ft"))
      .select(col("user_id"), (col("__ft") - col("__ff")).as("latency_sec"))
  }
  /** Interval concurrency sweep: given [start, end) intervals
    * (sessions, jobs, connections), the number active at every
    * boundary instant — the load curve behind "peak concurrent
    * sessions" capacity questions. Classic sweep-line: +1 at each
    * start, −1 at each (exclusive) end, prefix-summed over the
    * DISTINCT boundary timestamps. Returns (sec, delta, active)
    * ordered by time; `active` holds from `sec` until the next
    * boundary.
    *
    * Scale shape: one hash aggregate collapses the sweep to distinct
    * boundary seconds, then the running sum runs over that bounded
    * table (the time range in seconds, not the event count) — the
    * rocAuc distinct-value kernel again.
    */
  def concurrency(events: DataFrame, startCol: String,
      endCol: String): DataFrame = {
    val deltas = events
      .select(col(startCol).cast("long").as("sec"), lit(1L).as("d"))
      .unionAll(events
        .select(col(endCol).cast("long").as("sec"), lit(-1L).as("d")))
      .groupBy("sec").agg(sum("d").as("delta"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("sec")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    deltas.select(col("sec"), col("delta"),
      sum("delta").over(w).as("active"))
  }

  /** Time-weighted average of a state-like value per key: each
    * observation holds until the next one, so its weight is the gap
    * to the successor — the right mean for prices, concurrency
    * levels, queue depths, anything sampled at irregular times where
    * a plain AVG over-counts bursts. The last observation carries no
    * weight (its holding period is unobserved). Keys with a single
    * observation (or all observations at one instant) return NULL.
    * Returns (key, n_obs, span_sec, twa).
    *
    * Scale shape: one key-partitioned lead window + one aggregate —
    * a single shuffle on the key.
    */
  def timeWeightedAverage(events: DataFrame, keyCol: String, secCol: String,
      idCol: String, valCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col(secCol), col(idCol))
    events
      .withColumn("__next", lead(col(secCol), 1).over(w))
      .withColumn("__w", (col("__next") - col(secCol)).cast("double"))
      .groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_obs"),
        (max(col(secCol)) - min(col(secCol))).as("span_sec"),
        when(sum("__w") > 0.0,
          sum(col(valCol).cast("double") * col("__w")) / sum("__w"))
          .as("twa"))
  }

  /** RFM segmentation: per-user Recency (seconds since the user's
    * last event, measured from the corpus's own max timestamp so the
    * result is replayable), Frequency (event count) and Monetary
    * (value sum), each bucketed 1-5 against the exact interpolated
    * {20,40,60,80}% quantiles of the USER-level distribution —
    * recency scored inverted (most recent = 5). The standard
    * lifecycle-segmentation table; in corpus terms, the contributor-
    * activity profile.
    *
    * Returns (user, recency_sec, frequency, monetary, r_score,
    * f_score, m_score).
    *
    * Scale shape: one user-keyed aggregate over the events, one
    * 12-number exact-percentile aggregate over the USER table, both
    * broadcast back as a 1-row cut table — two scans total (events,
    * then users), nothing user-count-quadratic.
    */
  def rfm(events: DataFrame, userCol: String, secCol: String,
      valCol: String): DataFrame = {
    val perUser = graft.core.PipelineCaches.persistTracked(
      events.groupBy(col(userCol).as("user"))
        .agg(max(col(secCol)).as("last"), count(lit(1)).as("frequency"),
          sum(col(valCol).cast("double")).as("monetary")))
    val asOf = perUser.agg(max("last").as("as_of"))
    val withR = perUser.crossJoin(broadcast(asOf))
      .withColumn("recency_sec", col("as_of") - col("last"))
    val qs = Seq(0.2, 0.4, 0.6, 0.8)
    val cutCols = qs.zipWithIndex.flatMap { case (q, i) => Seq(
      percentile(col("recency_sec").cast("double"), lit(q)).as(s"rq$i"),
      percentile(col("frequency").cast("double"), lit(q)).as(s"fq$i"),
      percentile(col("monetary"), lit(q)).as(s"mq$i"))
    }
    val cuts = withR.agg(cutCols.head, cutCols.tail: _*)
    def scoreUp(c: org.apache.spark.sql.Column, pre: String) =
      lit(1) + (0 to 3).map(i =>
        when(c >= col(s"$pre$i"), 1).otherwise(0)).reduce(_ + _)
    val scored = withR.crossJoin(broadcast(cuts))
    scored.select(col("user"), col("recency_sec"), col("frequency"),
      col("monetary"),
      // recency inverted: at-or-below a cut = more recent = higher
      (lit(6) - scoreUp(col("recency_sec").cast("double"), "rq"))
        .as("r_score"),
      scoreUp(col("frequency").cast("double"), "fq").as("f_score"),
      scoreUp(col("monetary"), "mq").as("m_score"))
  }

  /** Sample autocorrelation of the event-count series at lags
    * 1..`maxLag`, plus the cumulative Ljung–Box Q statistic — the
    * white-noise / periodicity probe run before fitting any seasonal
    * model ([[seasonalDecompose]], [[holtWinters]]): a spike at lag
    * 24 on hourly buckets says "daily cycle", a flat ACF says the
    * stream is memoryless and the smoother is wasted work.
    *
    * r_h = Σ_t (y_t−ȳ)(y_{t+h}−ȳ) / Σ_t (y_t−ȳ)² over the DENSE
    * zero-filled bucket grid (a missing bucket is a real zero count,
    * not a gap to skip — skipping shifts every lag). Q at lag L =
    * n(n+2) Σ_{h≤L} r_h²/(n−h), χ²(L) under the null.
    *
    * Scale shape: the corpus collapses to the bucket table in the
    * first hash aggregate; the lag pairs come from one range
    * self-join of that driver-bounded table (≤ n·maxLag rows), like
    * the other period-grid analytics here.
    */
  def autocorrelation(events: DataFrame, secCol: String,
      periodSec: Long, maxLag: Int): DataFrame = {
    require(periodSec > 0 && maxLag >= 1)
    val counts = events
      .select(floor(col(secCol) / periodSec).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("y"))
    val spans = counts.agg(min("bucket").as("b0"), max("bucket").as("b1"))
    val dense = spans
      .select(explode(sequence(col("b0"), col("b1"))).as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("y"), lit(0L))
        .cast("double").as("y"))
    val stats = dense.agg(count(lit(1)).as("n"), avg("y").as("m"))
    val d = graft.core.PipelineCaches.persistTracked(
      dense.crossJoin(broadcast(stats))
        .select(col("bucket"), (col("y") - col("m")).as("dy"),
          col("n")))
    val denom = d.agg(sum(col("dy") * col("dy")).as("ss"))
    // the lag pairs carry n through the aggregate so the cumulative
    // Ljung–Box window runs DIRECTLY over the per-lag aggregate (the
    // lint-clean reduced-input shape), with the 1-row denominator
    // joined on afterwards
    val pairs = d.alias("a").join(d.alias("b"),
        col("b.bucket") - col("a.bucket") >= 1 &&
        col("b.bucket") - col("a.bucket") <= maxLag)
      .select((col("b.bucket") - col("a.bucket")).as("lag"),
        (col("a.dy") * col("b.dy")).as("prod"), col("a.n").as("n"))
    val Window = org.apache.spark.sql.expressions.Window
    val wCum = Window.orderBy("lag")
      .rowsBetween(Window.unboundedPreceding, 0)
    pairs.groupBy("lag")
      .agg(sum("prod").as("num"), first("n").as("n"))
      .withColumn("cum", sum(col("num") * col("num") /
        (col("n") - col("lag"))).over(wCum))
      .crossJoin(broadcast(denom))
      .select(col("lag"), (col("num") / col("ss")).as("r"),
        (col("n") * (col("n") + lit(2)) * col("cum") /
          (col("ss") * col("ss"))).as("lb_q"))
  }

  /** Mann–Kendall monotone-trend test + Theil–Sen slope over the
    * event-count series — the nonparametric "is traffic drifting"
    * read that an OLS line gets wrong under heavy tails and seasonal
    * noise. S = Σ_{i<j} sign(y_j − y_i); Var(S) carries the tie
    * correction [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)]/18 (count
    * series tie constantly); Z applies the ±1 continuity correction.
    * The slope is the LOWER MEDIAN (discrete order statistic
    * k = ⌈m/2⌉ under (slope, i, j) ordering) of the pairwise slopes
    * (y_j−y_i)/(j−i) — never an interpolated percentile, so the
    * number replays bit-exactly across engines.
    *
    * Scale shape (r12): corpus → bucket table in one hash aggregate;
    * the dense grid (n = time-range/periodSec buckets, driver-bounded
    * by contract) collapses into ONE row and a single kernel computes
    * S by merge-sort inversion counting (O(n log n) — never the old
    * n(n−1)/2 pair self-join, which shuffled and persisted the
    * quadratic pair set and ran a single-partition window over it),
    * the tie term and n off the same array, and the Sen slope by
    * exact enumeration + quickselect while m = n(n−1)/2 fits the
    * in-kernel cap (2²⁷ slopes ≈ 1 GB — n ≤ ~16 000 buckets). Above
    * the cap it FAILS LOUDLY with the remedy (coarsen periodSec):
    * bounding the grid is the contract, and a loud bound beats the
    * old form's silent multi-TB pair shuffle.
    */
  def mannKendall(events: DataFrame, secCol: String,
      periodSec: Long): DataFrame = {
    require(periodSec > 0)
    val counts = events
      .select(floor(col(secCol) / periodSec).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("y"))
    val spans = counts.agg(min("bucket").as("b0"), max("bucket").as("b1"))
    val dense = spans
      .select(explode(sequence(col("b0"), col("b1"))).as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("y"), lit(0L))
        .cast("double").as("y"))
    // ONE pass collapses the grid into a single row (the old form
    // evaluated the dense subtree four times: twice as self-join
    // sides, once for ties, once for n) and the kernel emits every
    // statistic the pair join used to produce, bit-identically
    val kr = dense
      .agg(sort_array(collect_list(struct(col("bucket"), col("y"))))
        .as("series"))
      .select(Events.mkKernel(col("series")).as("r"))
      .select(col("r.s").as("s"), col("r.m").as("m"),
        col("r.tie_term").as("tie_term"), col("r.n").as("n"),
        col("r.sen_slope").as("sen_slope"))
    kr
      .withColumn("var_s",
        (col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) - col("tie_term"))
          .cast("double") / 18.0)
      .withColumn("z", when(col("s") > 0,
          (col("s") - 1).cast("double") / sqrt(col("var_s")))
        .when(col("s") < 0,
          (col("s") + 1).cast("double") / sqrt(col("var_s")))
        .when(col("s") === 0, lit(0.0)))
      .select(col("n"), col("s").cast("long").as("s_stat"), col("var_s"),
        col("z"), col("sen_slope"))
  }

  /** Post-stratified average treatment effect: the covariate-adjusted
    * A/B read when randomization was (or may have been) imbalanced —
    * slice users into pre-treatment strata, difference the arm means
    * WITHIN each stratum, and recombine weighted by stratum size.
    * ATE = Σ_s (n_s/N)·(ȳ_Ts − ȳ_Cs); SE² = Σ_s (n_s/N)²·(s²_Ts/n_Ts
    * + s²_Cs/n_Cs) with population variances (the replayable choice,
    * documented). Strata missing either arm are dropped from the
    * estimate (their weight is excluded from N — the standard
    * complete-case convention) and flagged by used = false.
    *
    * Returns one row per stratum (n, per-arm n/mean, diff, weight,
    * used) with the pooled `ate` / `se` repeated on every row so a
    * single result surface carries both grains.
    *
    * Scale shape: one (stratum, variant) hash aggregate over the
    * per-user table; everything after runs on the stratum grid.
    */
  def postStratifiedAte(perUser: DataFrame, variantCol: String,
      metricCol: String, strataCol: String): DataFrame = {
    val arm = perUser.groupBy(col(strataCol).as("stratum"),
        col(variantCol).cast("string").as("variant"))
      .agg(count(lit(1)).as("n"),
        avg(col(metricCol).cast("double")).as("m"),
        var_pop(col(metricCol).cast("double")).as("v"))
    val grid = arm.groupBy("stratum")
      .agg(sum("n").as("n_all"),
        max(when(col("variant") === "1", col("n"))).as("n_t"),
        max(when(col("variant") === "1", col("m"))).as("mean_t"),
        max(when(col("variant") === "1", col("v"))).as("var_t"),
        max(when(col("variant") === "0", col("n"))).as("n_c"),
        max(when(col("variant") === "0", col("m"))).as("mean_c"),
        max(when(col("variant") === "0", col("v"))).as("var_c"))
      .withColumn("used", col("n_t").isNotNull && col("n_c").isNotNull)
    val tot = grid.filter(col("used"))
      .agg(sum("n_all").as("n_used"))
    val parts = graft.core.PipelineCaches.persistTracked(
      grid.crossJoin(broadcast(tot))
        .withColumn("weight", when(col("used"),
          col("n_all").cast("double") / col("n_used")))
        .withColumn("diff", col("mean_t") - col("mean_c")))
    val pooled = parts.filter(col("used"))
      .agg(sum(col("weight") * col("diff")).as("ate"),
        sqrt(sum(col("weight") * col("weight") *
          (col("var_t") / col("n_t") + col("var_c") / col("n_c"))))
          .as("se"))
    parts.crossJoin(broadcast(pooled))
      .select(col("stratum"), col("n_all"), col("n_t"), col("n_c"),
        col("mean_t"), col("mean_c"), col("diff"), col("weight"),
        col("used"), col("ate"), col("se"))
  }

  /** Log-rank test comparing [[kaplanMeier]]-style survival between
    * user groups — "do these arms churn at the same rate" with the
    * censoring the naive churn-rate comparison ignores. Same lifetime
    * convention as [[kaplanMeier]]: duration = (last − first) div
    * `periodSec`, users whose last event falls within `censorGap` of
    * the horizon are censored. At each event time t: expected events
    * per group E_g(t) = d(t)·n_g(t)/n(t); reports per group
    * (group, n_users, observed, expected) with the k-group
    * approximation χ² = Σ(O−E)²/E repeated, and — for exactly two
    * groups — the exact hypergeometric-variance z = (O₁−E₁)/√ΣV(t)
    * (NULL otherwise). With no churn events anywhere, observed and
    * expected are 0 and χ²/z are NULL.
    *
    * Scale shape: ONE distributed pass — user aggregate → the
    * (group, duration-bucket) leaving/event table — then the
    * statistic is scalar algebra over that BOUNDED bucket table
    * (|groups| × time-range/periodSec rows by contract), assembled
    * driver-side in sorted order (the readAtSubmitter idiom the
    * ridge/EM operators use): a chain of eight tiny joined
    * aggregates costs more in scheduler overhead than the whole
    * corpus scan, and the bucket grid never grows with the corpus.
    */
  def logRankTest(events: DataFrame, userCol: String, groupCol: String,
      secCol: String, periodSec: Long, censorGap: Long,
      maxBuckets: Int = 100000): DataFrame = {
    require(periodSec > 0 && censorGap >= 0,
      "periodSec must be positive, censorGap non-negative")
    require(maxBuckets > 0, "maxBuckets must be positive")
    val spark = events.sparkSession
    val perUser = events
      .groupBy(col(userCol).as("user"))
      .agg(min(col(groupCol).cast("string")).as("g"),
        min(col(secCol).cast("long")).as("first_sec"),
        max(col(secCol).cast("long")).as("last_sec"))
    val withHorizon = perUser.crossJoin(
      broadcast(perUser.agg(max("last_sec").as("horizon"))))
    val leaving = withHorizon
      .select(col("g"),
        expr(s"(last_sec - first_sec) div ${periodSec}L").as("t"),
        (col("last_sec") < col("horizon") - censorGap).as("event"))
      .groupBy("g", "t")
      .agg(count(lit(1)).as("leaving"),
        sum(when(col("event"), 1L).otherwise(0L)).as("d"))
    // bounded bucket table → driver; all remaining algebra is scalar.
    // limit(max+1) keeps a mis-sized call (periodSec far too small
    // for the time range) from OOMing the driver: it fails loudly
    // instead, before more than maxBuckets rows ever land here.
    val lv0 = leaving.limit(maxBuckets + 1).collect()
    require(lv0.length <= maxBuckets,
      s"logRankTest: (group x duration-bucket) table exceeds " +
        s"$maxBuckets rows - raise periodSec (fewer buckets) or " +
        s"maxBuckets if the driver can hold it")
    val lv = lv0.map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3))).sortBy(x => (x._1, x._2))
    val groups = lv.map(_._1).distinct.sorted
    val evTimes = lv.filter(_._3 > 0).collect {
      case (_, t, _, d) if d > 0 => t
    }.distinct.sorted
    val nUsers = groups.map(g =>
      g -> lv.filter(_._1 == g).map(_._3).sum).toMap
    // per (group, event time): at-risk and events
    def nGt(g: String, et: Long): Long =
      lv.filter(c => c._1 == g && c._2 >= et).map(_._3).sum
    def dGt(g: String, et: Long): Long =
      lv.filter(c => c._1 == g && c._2 == et).map(_._4).sum
    val byTime = evTimes.map { et =>
      val n = groups.map(g => g -> nGt(g, et)).toMap
      val d = groups.map(g => g -> dGt(g, et)).toMap
      (et, n, d, n.values.sum, d.values.sum)
    }
    val observed = groups.map(g =>
      g -> byTime.map { case (_, _, d, _, _) => d(g) }.sum).toMap
    val expected = groups.map { g =>
      g -> byTime.map { case (_, n, _, nT, dT) =>
        dT * n(g).toDouble / nT
      }.sum
    }.toMap
    val chi2: Option[Double] =
      if (evTimes.isEmpty) None
      else Some(groups.map { g =>
        val e = expected(g)
        // a group whose members never overlap any event time has
        // expected == observed == 0; skip its 0/0 term (the SQL
        // formulation's NULL-skipping sum does the same)
        if (e > 0) math.pow(observed(g) - e, 2) / e else 0.0
      }.sum)
    val z: Option[Double] =
      if (groups.length != 2 || evTimes.isEmpty) None
      else {
        val g1 = groups.head
        val v = byTime.map { case (_, n, _, nT, dT) =>
          if (nT > 1)
            dT.toDouble * (nT - dT) / (nT - 1) * n(g1) *
              (nT - n(g1)) / (nT.toDouble * nT)
          else 0.0
        }.sum
        if (v > 0) Some((observed(g1) - expected(g1)) / math.sqrt(v))
        else None
      }
    import spark.implicits._
    groups.map { g =>
      (g, nUsers(g), observed(g), expected(g),
        chi2.map(Double.box).orNull.asInstanceOf[java.lang.Double],
        z.map(Double.box).orNull.asInstanceOf[java.lang.Double])
    }.toSeq
      .toDF("group", "n_users", "observed", "expected", "chi2", "z")
  }

  /** Page–Hinkley sequential mean-drift detector over the
    * `periodSec`-bucket count series — the streaming complement to
    * [[cusum]]: m_T = Σ(x_t − x̄_t − δ) with x̄_t the RUNNING mean,
    * PH_T = m_T − min_{t≤T} m_t, alarm when PH exceeds λ. Robust to
    * slow level creep that a fixed-reference CUSUM misses, because
    * the reference tracks the series itself. Emits the full trace
    * (bucket, x, running_mean, m_t, ph, alarm).
    *
    * Scale shape: the corpus collapses to the dense bucket grid in
    * one hash aggregate; everything after is cumulative windows over
    * that bounded table.
    */
  def pageHinkley(events: DataFrame, secCol: String, periodSec: Long,
      delta: Double, lambda: Double): DataFrame = {
    require(periodSec > 0 && lambda > 0,
      "periodSec and lambda must be positive")
    import org.apache.spark.sql.expressions.Window
    val counts = events
      .select(floor(col(secCol) / periodSec).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("y"))
    // zero-fill as union + re-aggregate (not left join) so the global
    // cumulative windows below sit directly on an aggregate of the
    // bounded bucket grid — the shape PlanLint can verify as reduced
    val grid = counts.agg(min("bucket").as("b0"), max("bucket").as("b1"))
      .select(explode(sequence(col("b0"), col("b1"))).as("bucket"),
        lit(0L).as("y"))
    val dense = grid.unionByName(counts)
      .groupBy("bucket").agg(sum("y").cast("double").as("x"))
    val wc = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    // 1e6 floor-quantize instead of round(): the running-mean
    // recursion is a long float chain and Spark/DuckDB round()
    // disagree on shortest-repr boundaries (the EWMA trap)
    def q6(c: org.apache.spark.sql.Column) =
      floor(c * 1e6 + 0.5) / 1e6
    dense
      .withColumn("running_mean",
        sum("x").over(wc) / count(lit(1)).over(wc))
      .withColumn("m_t", sum(col("x") - col("running_mean") - delta)
        .over(wc))
      .withColumn("ph", col("m_t") - min("m_t").over(wc))
      .select(col("bucket"), col("x"), q6(col("running_mean"))
        .as("running_mean"), q6(col("m_t")).as("m_t"),
        q6(col("ph")).as("ph"), (col("ph") > lambda).as("alarm"))
  }

  /** Cochran–Mantel–Haenszel test + MH common odds ratio over
    * stratified 2×2 tables — "does the treatment move the binary
    * outcome CONTROLLING for the stratification" (source, language,
    * cohort): the stratum-confounding-safe pooling that a collapsed
    * 2×2 gets wrong (Simpson). Arms and outcomes are booleans;
    * per stratum a = n(arm, outcome), E = n₁m₁/T,
    * V = n₁n₂m₁(T−m₁)/(T²(T−1)); χ²_CMH = (|Σa−ΣE|−½)²/ΣV and
    * OR_MH = Σ(ad/T)/Σ(bc/T) (NULL when the denominator is 0).
    * Strata with a zero margin contribute nothing (their V = 0).
    * Returns one row (strata, a_sum, e_sum, v_sum, chi2_cmh, or_mh).
    *
    * Scale shape: one (stratum) hash aggregate with conditional
    * counters, one scalar aggregate over the stratum table.
    */
  def cmhTest(df: DataFrame, strataCol: String, armCol: String,
      outcomeCol: String): DataFrame = {
    val arm = col(armCol).cast("boolean")
    val out = col(outcomeCol).cast("boolean")
    val per = df.groupBy(col(strataCol).as("stratum"))
      .agg(count(lit(1)).as("tt"),
        sum(when(arm && out, 1L).otherwise(0L)).as("a"),
        sum(when(arm && !out, 1L).otherwise(0L)).as("b"),
        sum(when(!arm && out, 1L).otherwise(0L)).as("c"),
        sum(when(!arm && !out, 1L).otherwise(0L)).as("d"))
      .withColumn("n1", col("a") + col("b"))
      .withColumn("n2", col("c") + col("d"))
      .withColumn("m1", col("a") + col("c"))
    per.agg(count(lit(1)).as("strata"),
        sum("a").cast("long").as("a_sum"),
        sum(col("n1").cast("double") * col("m1") / col("tt")).as("e_sum"),
        coalesce(sum(when(col("tt") > 1,
          col("n1").cast("double") * col("n2") * col("m1") *
            (col("tt") - col("m1")) /
            (col("tt").cast("double") * col("tt") * (col("tt") - 1)))),
          lit(0.0)).as("v_sum"),
        sum(col("a").cast("double") * col("d") / col("tt")).as("ad"),
        sum(col("b").cast("double") * col("c") / col("tt")).as("bc"))
      .select(col("strata"), col("a_sum"), col("e_sum"), col("v_sum"),
        when(col("v_sum") > 0,
          pow(abs(col("a_sum") - col("e_sum")) - lit(0.5), 2.0) /
            col("v_sum")).as("chi2_cmh"),
        when(col("bc") > 0, col("ad") / col("bc")).as("or_mh"))
  }
  /** Propensity-score radius matching on the caliper grid + ATT —
    * the observational-causal read when arms were NOT randomized:
    * each treated unit matches the nearest CONTROL-occupied score
    * value within ±`caliper`, and its counterfactual outcome is the
    * mean control outcome AT that score (radius/stratification
    * matching with replacement — the deterministic, join-shaped
    * member of the PSM family; greedy 1:1 without replacement is an
    * inherently sequential scan and is not offered). Matching runs
    * on the caliper GRID: scores quantize to g = ⌊score/caliper⌋,
    * a treated row joins control grid values in {g−1, g, g+1}, and
    * the winner is min (|score gap|, control grid value). Unmatched
    * treated units surface with NULL match columns (and are excluded
    * from the ATT, reported alongside as the standard overlap
    * diagnostic). Returns per treated unit (unit, score, treated_y,
    * matched_score, n_controls_at_match, control_y_mean, matched)
    * with (att, n_treated, n_matched) repeated.
    *
    * Scale shape: controls collapse to their DISTINCT grid values in
    * one hash aggregate, so the candidate join is treated × ≤3 grid
    * rows — the quantileNormalize bucketed-interval-join shape; no
    * all-pairs, no global sort, no per-bucket blow-up.
    */
  def propensityMatch(df: DataFrame, unitCol: String, treatedCol: String,
      scoreCol: String, outcomeCol: String,
      caliper: Double): DataFrame = {
    require(caliper > 0, s"caliper must be positive, got $caliper")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(unitCol).as("unit"),
      col(treatedCol).cast("boolean").as("t"),
      col(scoreCol).cast("double").as("score"),
      col(outcomeCol).cast("double").as("y"))
      .withColumn("g", floor(col("score") / caliper).cast("long"))
    val controls = base.filter(!col("t"))
      .groupBy("g", "score")
      .agg(count(lit(1)).as("nc"), avg("y").as("cy"))
    val treated = base.filter(col("t"))
    val cand = treated
      .select(col("unit"), col("score"), col("y"),
        explode(array(col("g") - 1, col("g"), col("g") + 1)).as("g"))
      .join(controls.select(col("g"), col("score").as("cscore"),
        col("nc"), col("cy")), Seq("g"))
      .filter(abs(col("score") - col("cscore")) <= caliper)
    val wBest = Window.partitionBy("unit")
      .orderBy(abs(col("score") - col("cscore")), col("cscore"))
    val best = cand.withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("unit"), col("cscore").as("matched_score"),
        col("nc").as("n_controls_at_match"), col("cy"))
    val matches = treated.select(col("unit"), col("score"),
        col("y").as("treated_y"))
      .join(best, Seq("unit"), "left")
      .withColumn("matched", col("matched_score").isNotNull)
    val att = matches.agg(
      count(lit(1)).as("n_treated"),
      sum(when(col("matched"), 1L).otherwise(0L)).as("n_matched"),
      avg(when(col("matched"), col("treated_y") - col("cy"))).as("att"))
    matches.crossJoin(broadcast(att))
      .select(col("unit"), col("score"), col("treated_y"),
        col("matched_score"), col("n_controls_at_match"),
        col("cy").as("control_y_mean"), col("matched"), col("att"),
        col("n_treated"), col("n_matched"))
  }
  /** Delta-method ratio-metric analysis per variant — the correct SE
    * for event-level metrics under USER-level randomization
    * (clicks/views, revenue/session): the naive row-level variance
    * ignores within-user correlation and understates the SE, the
    * classic silently-overconfident A/B bug. Per user: (y_u, n_u)
    * sums; per variant: R = ΣY/ΣN and
    * Var(R) ≈ (s_yy − 2R·s_yn + R²·s_nn) / (U·n̄²) with SAMPLE
    * covariances of the per-user sums (Deng et al. 2017 flavor).
    * Reports per variant (variant, users, num_sum, den_sum, ratio,
    * se) with the z of each treatment against `controlVariant`
    * repeated on its row (NULL on control / degenerate SEs).
    *
    * Scale shape: one user aggregate, one variant moments aggregate,
    * a broadcast control row.
    */
  def deltaMethodRatio(events: DataFrame, userCol: String,
      variantCol: String, numCol: String, denCol: String,
      controlVariant: String): DataFrame = {
    val perUser = events
      .groupBy(col(userCol).as("user"),
        col(variantCol).cast("string").as("variant"))
      .agg(sum(col(numCol).cast("double")).as("y"),
        sum(col(denCol).cast("double")).as("n"))
    val per = perUser.groupBy("variant")
      .agg(count(lit(1)).as("users"), sum("y").as("ys"),
        sum("n").as("ns"), sum(col("y") * col("y")).as("yy"),
        sum(col("y") * col("n")).as("yn"),
        sum(col("n") * col("n")).as("nn"))
      .withColumn("ratio", col("ys") / col("ns"))
      .withColumn("nbar", col("ns") / col("users"))
      // sample covariances of the per-user (y, n) sums
      .withColumn("syy", (col("yy") - col("ys") * col("ys") / col("users"))
        / (col("users") - 1))
      .withColumn("syn", (col("yn") - col("ys") * col("ns") / col("users"))
        / (col("users") - 1))
      .withColumn("snn", (col("nn") - col("ns") * col("ns") / col("users"))
        / (col("users") - 1))
      .withColumn("se", when(col("users") > 1 && col("ns") > 0,
        sqrt(greatest(
          (col("syy") - lit(2.0) * col("ratio") * col("syn") +
            col("ratio") * col("ratio") * col("snn")) /
            (col("users") * col("nbar") * col("nbar")), lit(0.0)))))
    val ctl = per.filter(col("variant") === controlVariant)
      .select(col("ratio").as("c_ratio"), col("se").as("c_se"))
    // left-join the control row (the mannKendall jk pattern): a
    // missing/mistyped controlVariant must surface as per-variant
    // rows with NULL z, never as a silently empty result
    per.withColumn("jk", lit(1))
      .join(broadcast(ctl.withColumn("jk", lit(1))), Seq("jk"), "left")
      .drop("jk")
      .select(col("variant"), col("users"), col("ys").as("num_sum"),
        col("ns").as("den_sum"), col("ratio"), col("se"),
        when(col("variant") =!= controlVariant &&
            col("se").isNotNull && col("c_se").isNotNull &&
            (col("se") * col("se") + col("c_se") * col("c_se")) > 0,
          (col("ratio") - col("c_ratio")) /
            sqrt(col("se") * col("se") + col("c_se") * col("c_se")))
          .as("z_vs_control"))
  }
  /** Markov entropy rate of the event-type process — how predictable
    * user behavior is one step ahead: plug-in estimate
    * H₁ = −Σ_i π̂_i Σ_j p̂_ij·ln p̂_ij over the observed first-order
    * transition table, with π̂ the EMPIRICAL source-state frequency
    * (the plug-in convention — no stationary-distribution eigen
    * solve, documented), next to the zeroth-order H₀ = −Σ π̂·ln π̂;
    * the gap H₀ − H₁ is the "how much does knowing the current event
    * help" number behind next-event models and session compression.
    * Returns one row (n_transitions, n_states, h0, h_rate,
    * predictability_gain).
    *
    * Scale shape: one user-keyed lead window to form transitions,
    * two bounded (type × type) hash aggregates.
    */
  def markovEntropy(events: DataFrame, userCol: String, secCol: String,
      typeCol: String, tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(secCol), col(tieCol))
    val trans = events
      .withColumn("nxt", lead(col(typeCol), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col(typeCol).as("src"), col("nxt"))
      .agg(count(lit(1)).as("nij"))
    val src = trans.groupBy("src").agg(sum("nij").as("ni"))
    val tot = src.agg(sum("ni").as("nt"),
      count(lit(1)).as("n_states"))
    val h1 = trans.join(src, "src")
      .select((col("nij").cast("double") / col("ni")).as("pij"),
        col("nij"))
      .agg(sum(col("nij") * log(col("pij"))).as("sum_n_lnp"))
    src.crossJoin(broadcast(tot))
      .select((col("ni").cast("double") / col("nt")).as("pi"),
        col("ni"), col("nt"), col("n_states"))
      .agg(first("nt").as("n_transitions"),
        first("n_states").as("n_states"),
        (-sum(col("pi") * log(col("pi")))).as("h0"))
      .crossJoin(broadcast(h1))
      .select(col("n_transitions"), col("n_states"), col("h0"),
        (lit(0.0) - col("sum_n_lnp") / col("n_transitions"))
          .as("h_rate"))
      .select(col("n_transitions"), col("n_states"), col("h0"),
        col("h_rate"), (col("h0") - col("h_rate"))
          .as("predictability_gain"))
  }
  /** Exact DAU/MAU stickiness per day — the engagement ratio behind
    * "how much of the monthly audience shows up daily", computed
    * EXACTLY at any scale: instead of a 28-day explode per active day
    * (28× row blow-up) or a trailing HLL (approximate), each user's
    * active days merge into COVERAGE INTERVALS (an activity on day a
    * keeps the user MAU-active through a+window−1; activities closer
    * than `windowDays` extend one interval), and the per-day MAU is
    * a +1/−1 boundary sweep over those intervals — the
    * interval-concurrency pattern. Returns one row per day of the
    * observed range (day, dau, mau, stickiness) with dau = 0 rows
    * kept (quiet days still have a month denominator).
    *
    * Scale shape: one (user, day) distinct, one user-keyed lag
    * window, one boundary aggregate, cumulative windows over the
    * bounded day grid (union + re-aggregate zero-fill so the global
    * window sits on an aggregate — the pageHinkley shape).
    */
  def stickiness(events: DataFrame, userCol: String, secCol: String,
      windowDays: Int = 28): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    import org.apache.spark.sql.expressions.Window
    val ud = graft.core.PipelineCaches.persistTracked(
      events.select(col(userCol).as("user"),
          col(secCol).cast("long").as("s"))
        .select(col("user"), expr("s div 86400L").as("day"))
        .distinct())
    val wU = Window.partitionBy("user").orderBy("day")
    val intervals = ud
      .withColumn("prev", lag("day", 1).over(wU))
      .withColumn("brk", when(col("prev").isNull ||
        col("day") - col("prev") >= windowDays, 1L).otherwise(0L))
      .withColumn("int_id", sum("brk").over(
        wU.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user", "int_id")
      .agg(min("day").as("start"),
        (max("day") + windowDays - 1).as("end"))
    val deltas = intervals.select(col("start").as("day"), lit(1L).as("d"))
      .unionByName(intervals.select((col("end") + 1).as("day"),
        lit(-1L).as("d")))
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val range = ud.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"),
        lit(0L).as("d"))
    val grid = deltas.unionByName(range)
      .groupBy("day").agg(sum("d").as("delta"))
    val wD = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid
      .withColumn("mau", sum("delta").over(wD))
      .join(dau, Seq("day"), "left")
      .withColumn("dau", coalesce(col("dau"), lit(0L)))
      // interval ends extend past the last observed day — clip to the
      // observed range so every emitted day has a real denominator
      .crossJoin(broadcast(ud.agg(max("day").as("dmax"))))
      .filter(col("day") <= col("dmax"))
      .select(col("day"), col("dau"), col("mau"),
        (col("dau").cast("double") / col("mau")).as("stickiness"))
  }

  /** In-kernel exact-Sen cap: 2²⁷ pairwise slopes ≈ 1 GB of doubles
    * in one task — n ≤ ~16 000 buckets. Past it the kernel throws
    * with the remedy instead of silently allocating (or, as the old
    * pair-join form did, silently shuffling a multi-TB pair set).
    */
  private[events] val mkMaxExactPairs: Long = 1L << 27

  /** Mann–Kendall single-row kernel over the time-ordered dense
    * series: S = Σ_{i<j} sign(y_j − y_i) by merge-sort inversion
    * counting (O(n log n); with T tied pairs and D strict descents,
    * S = (m − T − D) − D), tie_term and n off a sorted copy, Sen
    * slope = the ⌈m/2⌉-th smallest of the m pairwise slopes
    * (y_j − y_i)/(x_j − x_i) by enumeration + quickselect — the exact
    * doubles and the exact lower-median rule of the old relational
    * form (subtraction of equal doubles yields +0.0, so the −0.0 /
    * +0.0 grouping divergence cannot occur). Returns (s, m, tie_term,
    * n, sen_slope) with s/sen_slope null on a degenerate < 2-bucket
    * series, matching the old empty-pair-set behavior.
    */
  private[events] final case class MkStats(s: Option[Long], m: Long,
      tie_term: Long, n: Long, sen_slope: Option[Double])

  private def mkStats(rows: Seq[org.apache.spark.sql.Row]): MkStats = {
    val n = rows.length
    val x = new Array[Long](n)
    val y = new Array[Double](n)
    var i = 0
    while (i < n) {
      val r = rows(i); x(i) = r.getLong(0); y(i) = r.getDouble(1); i += 1
    }
    val m = n.toLong * (n - 1) / 2
    // tie term over a sorted copy: Σ_{t_g>1} t_g(t_g−1)(2t_g+5), and
    // tied-pair count T = Σ t_g(t_g−1)/2 for the S identity below
    val sortedY = y.clone()
    java.util.Arrays.sort(sortedY)
    var tieTerm = 0L
    var tiedPairs = 0L
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && sortedY(j) == sortedY(i)) j += 1
      val t = (j - i).toLong
      if (t > 1) {
        tieTerm += t * (t - 1) * (2 * t + 5)
        tiedPairs += t * (t - 1) / 2
      }
      i = j
    }
    if (m == 0L) MkStats(None, 0L, tieTerm, n.toLong, None)
    else {
      // D = #{i<j : y_i > y_j} (strict descents) via merge count
      val work = y.clone()
      val tmp = new Array[Double](n)
      def mergeCount(lo: Int, hi: Int): Long = { // [lo, hi)
        if (hi - lo < 2) 0L
        else {
          val mid = (lo + hi) >>> 1
          var inv = mergeCount(lo, mid) + mergeCount(mid, hi)
          var a = lo; var b = mid; var k = lo
          while (a < mid && b < hi) {
            if (work(a) <= work(b)) { tmp(k) = work(a); a += 1 }
            else { tmp(k) = work(b); b += 1; inv += (mid - a) }
            k += 1
          }
          while (a < mid) { tmp(k) = work(a); a += 1; k += 1 }
          while (b < hi) { tmp(k) = work(b); b += 1; k += 1 }
          System.arraycopy(tmp, lo, work, lo, hi - lo)
          inv
        }
      }
      val d = mergeCount(0, n)
      val s = m - tiedPairs - 2 * d
      if (m > mkMaxExactPairs)
        throw new IllegalArgumentException(
          s"mannKendall: $n buckets -> $m pairwise slopes exceeds the " +
            s"exact Sen-slope cap $mkMaxExactPairs; coarsen periodSec " +
            "so the bucket grid stays bounded")
      val slopes = new Array[Double](m.toInt)
      var k = 0
      i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          slopes(k) = (y(j) - y(i)) / (x(j) - x(i)).toDouble
          k += 1; j += 1
        }
        i += 1
      }
      // lower median: the ⌈m/2⌉-th smallest, 1-indexed — quickselect
      // with a three-way partition, so a run of equal slopes (a flat
      // series is all 0.0) settles in one pass instead of one element
      // per pass
      val target = ((m + 1) / 2 - 1).toInt
      var lo = 0; var hi = slopes.length - 1
      var seed = 0x9E3779B97F4A7C15L // deterministic pivots
      while (lo < hi) {
        seed = seed * 6364136223846793005L + 1442695040888963407L
        val pv = slopes(lo + (((seed >>> 33) % (hi - lo + 1)).toInt))
        // [lo, lt) < pv, [lt, q) == pv, (gt, hi] > pv
        var lt = lo; var gt = hi; var q = lo
        while (q <= gt) {
          val v = slopes(q)
          if (v < pv) { slopes(q) = slopes(lt); slopes(lt) = v; lt += 1; q += 1 }
          else if (v > pv) { slopes(q) = slopes(gt); slopes(gt) = v; gt -= 1 }
          else q += 1
        }
        if (target < lt) hi = lt - 1
        else if (target > gt) lo = gt + 1
        else { lo = target; hi = target }
      }
      MkStats(Some(s), m, tieTerm, n.toLong, Some(slopes(target)))
    }
  }

  private[events] val mkKernel =
    udf(Events.mkStats _)
      .withName("mann_kendall_kernel")
}
