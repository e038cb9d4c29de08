package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Lineage

import graft.core.{Args, GraftJob, GraftSession, Ts}
import graft.events.Events
import graft.ml.Eval

/** End-to-end experiment/product-analytics report over an event log —
  * the events-family twin of [[TrainingDataJob]]: one input scan
  * feeds every downstream aggregate, and each report is a named
  * parquet output.
  *
  *  1. normalize: epoch seconds via [[Ts.seconds]] (representation-
  *     independent), variant assignment (default: a deterministic
  *     user-id hash split — replace with a real assignment column via
  *     --variant-col);
  *  2. `abtest/`   — two-proportion z-test per treatment arm;
  *     `bootstrap/` — Poisson-bootstrap CI on the same conversion
  *     metric (--bootstrap-reps replicates);
  *     `sequential/` — always-valid mSPRT per period (peeking-safe);
  *     `power/` — MDE at current sample sizes + required n for the
  *     observed lift;
  *     `winsorized/` — whale-proof per-arm value means (sketch-
  *     quantile clamping); `qte/` — quantile treatment effects on
  *     the same per-user value metric;
  *  3. `cuped/`    — variance-reduced metric per arm (pre-period
  *     covariate split at --split-sec);
  *  4. `retention/`— cohort retention grid;
  *  5. `survival/` — Kaplan–Meier churn curves with censoring;
  *  6. `trending/` — per-window top-k event types with lift;
  *  7. `markov/`   — next-event transition probabilities;
  *  8. `sessions/` — per-session aggregates through the native
  *     sessionize exec (one exchange end-to-end);
  *  9. round-9 causal/guardrail suite off the same shared tables:
  *     `srm/` — sample-ratio-mismatch chi-square vs the uniform
  *     design; `logrank/` — survival comparison between arms with
  *     censoring; `cmh/` — conversion pooled over entry-cohort
  *     strata (Simpson-safe); `delta_ratio/` — value-per-event with
  *     the delta-method clustered SE; `psm/` — propensity radius
  *     matching on the pre-period value + ATT; `qini/` — uplift
  *     deciles targeting by the pre-period value.
  *
  * Shuffle audit at scale: every stage is hash aggregates and keyed
  * windows over the shared normalized scan; the only per-user sort is
  * inside sessionize/markov's secondary sort. Nothing collects.
  *
  * Args: --input <events parquet> --output <dir>
  *       [--variant-col <col>] [--arms 2] [--conv purchase]
  *       [--control 0]
  *       [--split-sec <epoch>] [--period-sec 86400]
  *       [--censor-gap 259200] [--gap-sec 1800]
  *       [--window-sec 3600] [--top-k 3]
  */
class ExperimentAnalysisJob(args: Args) extends GraftJob(args) {

  def run(spark: SparkSession): Unit = {
    val out = args("output")
    val r = ExperimentAnalysisJob.analyze(
      GraftSession.readParquet(spark, args("input")),
      variantCol = args.getOrElse("variant-col", ""),
      arms = args.getOrElse("arms", "2").toInt,
      convType = args.getOrElse("conv", "purchase"),
      control = args.getOrElse("control", "0"),
      splitSec = args.getOrElse("split-sec", "0").toLong,
      periodSec = args.getOrElse("period-sec", "86400").toLong,
      censorGap = args.getOrElse("censor-gap", "259200").toLong,
      gapSec = args.getOrElse("gap-sec", "1800").toLong,
      windowSec = args.getOrElse("window-sec", "3600").toLong,
      topK = args.getOrElse("top-k", "3").toInt,
      bootstrapReps = args.getOrElse("bootstrap-reps", "200").toInt)
    r.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$out/$name")
    }
  }
}

object ExperimentAnalysisJob {

  /** All reports as named DataFrames (lazy — callers write or test;
    * TWO exceptions run eagerly at Map construction time: `logrank`
    * assembles its statistic from the bounded duration-bucket table,
    * per the operator's documented driver-side contract; and, when
    * `variantCol` is non-empty, `srm` collects the distinct observed
    * variant labels (bounded by the arm count) to build its uniform
    * expectation map.
    * `splitSec` = 0 means "median-free default": the midpoint of the
    * observed time range.
    */
  def analyze(events: DataFrame, variantCol: String = "", arms: Int = 2,
      convType: String = "purchase", control: String = "0",
      splitSec: Long = 0L,
      periodSec: Long = 86400L, censorGap: Long = 259200L,
      gapSec: Long = 1800L, windowSec: Long = 3600L,
      topK: Int = 3, bootstrapReps: Int = 200): Map[String, DataFrame] = {
    require(arms >= 2, "arms must be >= 2")
    val ev0 = events.withColumn("sec", Ts.seconds(events))
    val ev = Lineage.cut((if (variantCol.nonEmpty)
        ev0.withColumn("variant", col(variantCol).cast("string"))
      else
        ev0.withColumn("variant",
          graft.ml.Profile.fibScramble(col("user_id")) % arms))
      .withColumn("variant", col("variant").cast("string")))
    val split =
      if (splitSec > 0) splitSec
      else {
        val r = ev.agg(min("sec"), max("sec")).head()
        (r.getLong(0) + r.getLong(1)) / 2
      }
    val sessions = org.apache.spark.sql.graft.SessionizeNative
      .sessionize(ev.select("user_id", "sec", "event_id", "value"),
        Seq("user_id"), "sec", gapSec)
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        (max("sec") - min("sec")).as("duration_sec"),
        sum("value").as("total_value"))
    val perUserConv = ev
      .groupBy(col("user_id"), col("variant"))
      .agg(max(when(col("event_type") === convType, 1).otherwise(0))
        .as("converted"))
    val perUserValue = ev
      .groupBy(col("user_id"), col("variant"))
      .agg(sum(col("value")).as("total_value"))
    // entry cohort (first-event period) — the CMH stratum
    val cohort = ev.groupBy("user_id")
      .agg(expr(s"min(sec) div ${periodSec}L").as("cohort"))
    // pre-period covariate (value before the CUPED split) quantized
    // to integer units: the PSM score and the qini targeting score
    val perUserPre = ev
      .groupBy(col("user_id"), col("variant"))
      .agg(floor(sum(when(col("sec") < split, col("value"))
          .otherwise(0.0))).as("pre_value"),
        max(when(col("event_type") === convType, 1).otherwise(0))
          .as("converted"))
    val psmCaliper = 25.0
    Map(
      "abtest" -> Events.abTest(ev, "user_id", "variant", "event_type",
        convType, controlVariant = control),
      "bootstrap" -> Events.bootstrapCI(perUserConv, "user_id", "variant",
        "converted", nReps = bootstrapReps),
      "sequential" -> Events.sequentialTest(ev, "user_id", "variant",
        "sec", "event_type", convType, controlVariant = control,
        periodSec = periodSec),
      "power" -> Events.powerAnalysis(ev, "user_id", "variant",
        "event_type", convType, controlVariant = control),
      "winsorized" -> Events.winsorizedMeans(perUserValue, "variant",
        "total_value"),
      "qte" -> Events.quantileTreatmentEffects(perUserValue, "variant",
        "total_value", controlVariant = control),
      "cuped" -> Events.cuped(ev, "user_id", "variant", "sec", "value",
        split),
      "retention" -> Events.retention(ev, "user_id", "sec", "event_type",
        anchorType = convType,
        returnTypes = Seq(convType), periodSec = periodSec),
      "survival" -> Events.kaplanMeier(ev, "user_id", "sec", periodSec,
        censorGap),
      "trending" -> Events.trending(ev, "sec", "event_type", windowSec,
        topK),
      "markov" -> Events.transitionCounts(ev, "user_id", "sec",
        "event_type", "event_id"),
      "sessions" -> sessions,
      // round-9 additions: guardrail + causal suite over the same
      // shared per-user tables
      "srm" -> Events.srmCheck(
        ev.select("user_id", "variant").distinct(), "variant",
        // hash split: the design IS 0..arms-1 uniform; an external
        // assignment column has unknown design, so test uniformity
        // over the OBSERVED labels instead of false-alarming every
        // arm as undesigned
        (if (variantCol.isEmpty) (0 until arms).map(_.toString)
         else ev.select("variant").distinct().collect()
           .map(_.getString(0)).toSeq)
          .map(_ -> 1.0).toMap),
      "logrank" -> Events.logRankTest(ev, "user_id", "variant", "sec",
        periodSec, censorGap),
      "cmh" -> Events.cmhTest(
        perUserConv.join(cohort, "user_id")
          .select(col("cohort"), (col("variant") =!= control).as("arm"),
            (col("converted") === 1).as("outc")),
        "cohort", "arm", "outc"),
      "delta_ratio" -> Events.deltaMethodRatio(
        ev.withColumn("one", lit(1.0)), "user_id", "variant", "value",
        "one", controlVariant = control),
      "psm" -> Events.propensityMatch(
        perUserPre.select(col("user_id"), (col("variant") =!= control).as("t"),
          col("pre_value").as("score"),
          col("converted").cast("double").as("y")),
        "user_id", "t", "score", "y", caliper = psmCaliper),
      "qini" -> Eval.qiniCurve(
        perUserPre.select(col("pre_value").as("s"),
          (col("variant") =!= control).as("t"), col("converted").as("y")),
        "s", "t", "y", k = 10))
  }
}
