package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-profiling + deterministic-sampling utilities for pipeline
  * hygiene at scale.
  */
object Profile {

  /** Per-column profile in ONE scan: rows, non-nulls, distincts,
    * min/max (stringified so heterogeneous columns stack into one
    * relation). `exact = false` switches the distinct count to
    * HyperLogLog (`approx_count_distinct`) — at 100 TB exact
    * multi-column distincts expand the scan once per column (Spark's
    * Expand operator), while the HLL sketches all columns in the one
    * pass with fixed memory.
    */
  def profile(df: DataFrame, cols: Seq[String],
      exact: Boolean = true): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__nn_$c"),
        (if (exact) countDistinct(col(c))
         else approx_count_distinct(col(c))).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    } :+ count(lit(1)).as("__n")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      struct(lit(c).as("col_name"), col("__n").as("n_rows"),
        col(s"__nn_$c").as("n_non_null"), col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_value"), col(s"__mx_$c").as("max_value"))
    }
    one.select(explode(array(stacked: _*)).as("p")).select("p.*")
  }

  /** Key-skew diagnostic: the `topN` heaviest values of `keyCol` with
    * their counts and share of all rows, plus the skew ratio vs a
    * perfectly uniform spread over the observed distinct keys. Run it
    * BEFORE a big join/groupBy: a skew_vs_uniform in the hundreds
    * says "salt this key or lean on AQE skew-join" — the measurement
    * behind the reference's skewJoinWithSmaller sampling phase
    * (JoinAlgorithms.scala:383-392), as a first-class one-shot tool.
    * One shuffle (the key count) + a tiny global agg.
    */
  /** Pre-flight join-cardinality report: per matching key, the exact
    * output row count a (multiplicity-preserving) equi-join would
    * produce — Σ n_left(k)·n_right(k) — with the top-`topN`
    * contributing keys. THE check to run before a 100 TB join: one
    * exploding key shows up here as a first row with `pairs` in the
    * billions, for the cost of two count aggregates and a count-table
    * join (never the data join itself). Compose with [[keySkew]] for
    * single-side diagnosis; the `share` column says what fraction of
    * the join output the key alone produces.
    */
  def joinCardinality(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], topN: Int = 10): DataFrame = {
    require(keyCols.nonEmpty)
    val cl = left.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n_left"))
    val cr = right.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n_right"))
    val per = cl.join(cr, keyCols)
      .withColumn("pairs", col("n_left") * col("n_right"))
    val total = per.agg(coalesce(sum("pairs"), lit(0L)).as("__t"))
    per.crossJoin(broadcast(total))
      .withColumn("share", col("pairs").cast("double") /
        when(col("__t") > 0, col("__t")))
      .drop("__t")
      .orderBy(col("pairs").desc +: keyCols.map(col): _*)
      .limit(topN)
  }

  /** Pairwise overlap matrix between groups: for every group pair,
    * estimated |A∩B|, |A\B|, |B\A| and Jaccard over the distinct
    * `itemCol` values — "how much does source X duplicate source Y",
    * the planning read before cross-source dedup or mixing. One theta
    * sketch per group (a single map-side-combined aggregate, k-bounded
    * state); all pair algebra is driver-side over the ≤|groups|
    * sketches. Exact below k distinct items per group, ~1/√k relative
    * error above.
    */
  def overlapMatrix(df: DataFrame, groupCol: String, itemCol: String,
      sketchK: Int = 4096): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sketches = df
      .select(col(groupCol).cast("string").as("g"),
        col(itemCol).cast("string").as("x"))
      .groupByKey(_.getString(0))
      .mapValues(_.getString(1))
      .agg(graft.agg.Theta.aggregator(sketchK).toColumn.name("sk"))
      .collect().sortBy(_._1)
    val rows = for {
      (ga, sa) <- sketches; (gb, sb) <- sketches if ga < gb
    } yield (ga, gb, sa.estimate, sb.estimate,
      sa.intersectionEstimate(sb), sa.differenceEstimate(sb),
      sb.differenceEstimate(sa), sa.jaccardEstimate(sb))
    rows.toSeq.toDF("group_a", "group_b", "n_a", "n_b",
      "n_intersect", "a_only", "b_only", "jaccard")
  }

  def keySkew(df: DataFrame, keyCol: String, topN: Int = 10): DataFrame = {
    val counts = df.groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum("n").as("__total"),
      count(lit(1)).as("__nkeys")).head()
    val total = totals.getLong(0)
    val nKeys = totals.getLong(1)
    counts
      .withColumn("share", col("n") / lit(total.toDouble))
      .withColumn("skew_vs_uniform",
        col("n") * lit(nKeys.toDouble) / lit(total.toDouble))
      .orderBy(col("n").desc, col("key"))
      .limit(topN)
  }

  /** Herfindahl–Hirschman concentration index per group: Σ_c share²
    * of category counts within the group (1 = one category owns the
    * group, 1/n_cats = perfectly uniform). The one-number "how
    * concentrated is this stratum" read next to [[keySkew]] and
    * massConcentration — e.g. does one source dominate a language.
    * The squared-count sum stays integer, so both this and a SQL
    * replay produce the IDENTICAL double before rounding.
    *
    * Scale shape: one (group, cat) hash aggregate + one group hash
    * aggregate. Nothing else.
    */
  def herfindahl(df: DataFrame, groupCol: String,
      catCol: String): DataFrame =
    df.groupBy(col(groupCol).as("grp"), col(catCol).as("cat"))
      .agg(count(lit(1)).as("n"))
      .groupBy("grp")
      .agg(sum("n").as("n"), count(lit(1)).as("n_cats"),
        sum(col("n") * col("n")).as("__sq"))
      .select(col("grp"), col("n"), col("n_cats"),
        (col("__sq").cast("double") /
          (col("n").cast("double") * col("n").cast("double")))
          .as("hhi"))

  /** Mutual information between two categorical columns (nats), with
    * the full entropy decomposition: H(A), H(B), H(A,B),
    * I = H(A)+H(B)−H(A,B), the conditional entropies, and
    * NMI = I/√(H(A)·H(B)) — the "is this column redundant given that
    * one" data-audit read (I ≈ 0 independent, NMI ≈ 1 determined).
    *
    * Scale shape: one joint (a, b) hash aggregate; marginals are
    * aggregates OF the joint table (never a second corpus scan); the
    * 1-row total broadcasts back. Term arithmetic is spelled
    * c/n · ln((c·n)/(ca·cb)) so a SQL replay produces identical
    * doubles per term.
    */
  def mutualInformation(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val joint = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("c"))
    val pa = joint.groupBy("a").agg(sum("c").as("ca"))
    val pb = joint.groupBy("b").agg(sum("c").as("cb"))
    val tot = broadcast(joint.agg(sum("c").as("n")))
    def hTerm(c: Column, n: Column): Column =
      -(c.cast("double") / n) * log(c.cast("double") / n)
    val ha = pa.crossJoin(tot)
      .agg(sum(hTerm(col("ca"), col("n"))).as("h_a"))
    val hb = pb.crossJoin(tot)
      .agg(sum(hTerm(col("cb"), col("n"))).as("h_b"))
    val core = joint.join(pa, "a").join(pb, "b").crossJoin(tot)
      .agg(max("n").as("n"),
        sum(hTerm(col("c"), col("n"))).as("h_ab"),
        sum((col("c").cast("double") / col("n")) *
          log((col("c").cast("double") * col("n")) /
            (col("ca").cast("double") * col("cb")))).as("mi"))
    core.crossJoin(broadcast(ha)).crossJoin(broadcast(hb))
      .select(col("n"), col("h_a"), col("h_b"), col("h_ab"), col("mi"),
        (col("h_ab") - col("h_b")).as("h_a_given_b"),
        (col("h_ab") - col("h_a")).as("h_b_given_a"),
        when(col("h_a") > 0 && col("h_b") > 0,
          col("mi") / sqrt(col("h_a") * col("h_b"))).as("nmi"))
  }

  /** Deterministic per-key uniform sample of exactly min(k, |group|)
    * rows — the distributed replacement for reservoir sampling: rank
    * by md5(salt, key, id) and keep the k smallest, so the sample is
    * a pure function of the data (replayable anywhere, stable across
    * reruns and partitionings). Returns the sampled rows with all
    * their columns.
    *
    * Scale shape: bounded-PQ top-k per key (map-side partials carry
    * ≤ k rows — no per-key sort of the whole corpus), then one
    * semi-join back for the full rows.
    */
  def uniformSampleByKey(df: DataFrame, keyCols: Seq[String],
      idCol: String, k: Int, salt: String = "graft"): DataFrame = {
    require(k > 0, "k must be positive")
    require(keyCols.nonEmpty, "need at least one key column")
    val h = md5(concat_ws("\u0001",
      (lit(salt) +: keyCols.map(c => col(c).cast("string"))) :+
        col(idCol).cast("string"): _*))
    val picked = df.withColumn("__h", h)
      .groupBy(keyCols.map(col): _*)
      .agg(org.apache.spark.sql.graft.AggShims
        .sortedTakeAsc(struct(col("__h"), col(idCol)), k).as("__top"))
      .select((keyCols.map(col) :+
        explode(col("__top")).as("__t")): _*)
      .select((keyCols.map(col) :+
        col("__t").getField(idCol).as(idCol)): _*)
    df.join(picked, keyCols :+ idCol, "left_semi")
  }

  /** Approximate per-column quantiles in one pass
    * (Greenwald-Khanna via `approx_percentile`): stacked
    * (col_name, p, value) rows. Rank error ≤ 1/`accuracy` — at any
    * scale the state is O(accuracy · log n) per column, vs a full
    * sort for exact quantiles.
    */
  def quantiles(df: DataFrame, cols: Seq[String],
      probs: Seq[Double] = Seq(0.25, 0.5, 0.75),
      accuracy: Int = 10000): DataFrame = {
    val pArr = array(probs.map(lit): _*)
    val aggs = cols.map(c =>
      percentile_approx(col(c).cast("double"), pArr, lit(accuracy)).as(s"__q_$c"))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.flatMap { c =>
      probs.zipWithIndex.map { case (p, i) =>
        struct(lit(c).as("col_name"), lit(p).as("p"),
          col(s"__q_$c").getItem(i).as("value"))
      }
    }
    one.select(explode(array(stacked: _*)).as("q")).select("q.*")
  }

  /** Robust per-group outlier detection via median absolute deviation
    * (the classic MAD rule — Hampel '74, public statistics): a row is
    * an outlier when |x − median| > `threshold` · MAD, where MAD is
    * the median of |x − median| within the group. Unlike z-scores,
    * both statistics have a 50% breakdown point, so the outliers
    * themselves cannot mask the cut.
    *
    * Returns the input rows annotated with `group_median`,
    * `group_mad`, `deviation` (|x − median|) and `is_outlier`; filter
    * on `is_outlier` for the anomalous rows. Groups where MAD = 0
    * (over half the values identical) flag any deviation ≠ 0.
    *
    * Two grouped aggregations (median, then MAD over the deviations)
    * + one group-keyed join-back per pass; group stats are tiny and
    * broadcast. `exact = true` uses Spark's exact `percentile`
    * (value→count map per group — fine when per-group distinct values
    * are bounded); at 100 TB with high-cardinality doubles use
    * `exact = false` for the Greenwald-Khanna sketch at `accuracy`.
    */
  def madOutliers(df: DataFrame, keyCols: Seq[String], valCol: String,
      threshold: Double = 3.5, exact: Boolean = true,
      accuracy: Int = 10000): DataFrame = {
    require(keyCols.nonEmpty, "madOutliers needs at least one key column")
    require(threshold >= 0, s"negative threshold: $threshold")
    val v = col(valCol).cast("double")
    def med(c: Column): Column =
      if (exact) percentile(c, lit(0.5))
      else percentile_approx(c, lit(0.5), lit(accuracy))
    val keys = keyCols.map(col)
    val medians = df.groupBy(keys: _*)
      .agg(med(v).as("group_median"))
    val withMed = df.join(broadcast(medians), keyCols)
      .withColumn("deviation", abs(v - col("group_median")))
    val mads = withMed.groupBy(keys: _*)
      .agg(med(col("deviation")).as("group_mad"))
    withMed.join(broadcast(mads), keyCols)
      .withColumn("is_outlier",
        when(col("group_mad") > 0.0,
            col("deviation") > col("group_mad") * threshold)
          .otherwise(col("deviation") > 0.0))
  }

  /** Deterministic hash sample: keep a row iff
    * `scramble(key) < fraction * M`. No RNG state, no seed plumbing —
    * the same key set is selected on every run, on every engine, at
    * any parallelism, and membership is stable under appends (the
    * property panel/holdout splits need; `df.sample` re-draws when
    * partitioning changes). Nested fractions are subsets: the 10%
    * sample is contained in the 20% sample.
    *
    * The scramble is multiplicative Fibonacci hashing — `key * g mod
    * M` with g/M ≈ the golden ratio (M = 2^31-1) — whose outputs are
    * maximally equidistributed for sequential keys (three-distance
    * theorem), in plain 64-bit-safe integer arithmetic an external SQL
    * engine replays exactly. (A small multiplier like Park-Miller's
    * 48271 would keep RUNS of ~fraction·M/g consecutive keys —
    * unusable below key ranges of millions.) Not adversarial-grade
    * mixing: keys chosen as multiples of M would collide, fine for
    * split/holdout use.
    */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double): DataFrame =
    df.filter(fibScramble(col(keyCol)) < lit((fraction * 2147483647L).toLong))

  /** `((key mod M) * g) mod M`, M = 2^31-1, g = 1327217885 ≈ 0.618 M.
    * Intermediate bounded by 2^31 · 1.33e9 ≈ 2.9e18 — inside 64-bit
    * for any input.
    */
  def fibScramble(key: Column): Column =
    pmod(pmod(key.cast("long"), lit(2147483647L)) * lit(1327217885L),
      lit(2147483647L))

  /** Adversarial-grade deterministic sample: membership =
    * `md5(key) prefix < threshold`. Same determinism/append-stability/
    * nesting properties as [[hashSample]], but the selection is
    * cryptographic — no key-arithmetic structure (sequential blocks,
    * common factors with the modulus, adversarially-chosen ids) can
    * bias the split. The cost is a hash per row instead of one
    * multiply; use it when the key space is not under your control.
    *
    * Engine-portable by construction: every engine's md5 of the same
    * decimal string yields the same lowercase hex, and the comparison
    * is on the 8-char hex PREFIX as a string (lexicographic =
    * numeric for fixed-width hex), so an external SQL oracle replays
    * membership exactly — no binary/bigint conversion needed.
    */
  def hashSampleStrong(df: DataFrame, keyCol: String, fraction: Double): DataFrame =
    df.filter(strongBucket(col(keyCol)) < lit(strongThreshold(fraction)))

  /** 8-hex-char md5 prefix of the key's decimal string form. */
  def strongBucket(key: Column): Column =
    substring(md5(key.cast("long").cast("string")), 1, 8)

  /** `fraction` of the 16^8 prefix space, as fixed-width lowercase hex
    * (the comparison literal for [[strongBucket]]).
    */
  def strongThreshold(fraction: Double): String =
    f"${math.round(fraction * 4294967296.0).min(4294967295L)}%08x"

  /** Stratified deterministic sample: per-stratum fractions with the
    * same hash rule (unlisted strata are dropped).
    */
  def stratifiedHashSample(df: DataFrame, keyCol: String, strataCol: String,
      fractions: Map[String, Double]): DataFrame = {
    val frac = fractions.foldLeft(lit(-1.0)) { case (acc, (k, f)) =>
      when(col(strataCol) === k, lit(f)).otherwise(acc)
    }
    df.withColumn("__frac", frac)
      .filter(fibScramble(col(keyCol)).cast("double") <
        col("__frac") * 2147483647L)
      .drop("__frac")
  }

  /** Per-stratum score calibration: replace a raw quality score with
    * its percent rank WITHIN its stratum (source domain, language,
    * …), so one global threshold cuts the same quantile of every
    * stratum — thresholding raw scores across heterogeneous domains
    * silently biases the mix toward domains whose scores run high.
    * `idCol` makes the order total, so ranks are deterministic and
    * any engine replays them. One hash-partitioned window, no global
    * sort.
    */
  def rankNormalize(df: DataFrame, scoreCol: String, strataCol: String,
      idCol: String, outCol: String = "score_pct"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(strataCol).orderBy(col(scoreCol), col(idCol))
    df.withColumn(outCol,
      floor(percent_rank().over(w) * 1e6 + 0.5) / 1e6)
  }

  /** Distribution-drift report between a baseline and a current
    * snapshot of a numeric column — the monitor a production corpus
    * pipeline runs on every ingest (has today's crawl shifted the
    * length / quality / NLL distribution?). Both sides are bucketed
    * on the SAME explicit ascending `cuts` (bucket b = 1 + #{c < x},
    * i.e. [[TextAnalysis.bucketByCutoffs]]'s rule, so cutoffs fitted
    * once on the baseline stay frozen), fractions are
    * Laplace-smoothed by `smoothing` pseudo-counts per bucket so an
    * empty bucket never yields ±∞, and each bucket row carries the
    * standard drift terms:
    *
    *  - `psi_term` = (cur−base)·ln(cur/base); Σ = Population
    *    Stability Index (rule of thumb: < 0.1 stable, > 0.25 shifted)
    *  - `kl_term`  = cur·ln(cur/base); Σ = KL(current ‖ baseline)
    *  - `tv_term`  = |cur−base|/2; Σ = total-variation distance
    *
    * Scale shape: one hash aggregate per side over the codegen'd
    * bucket expression (map-side partials, |cuts|+1 rows out), a
    * tiny bucket-keyed outer join, no window, no sort — the input is
    * scanned exactly once per side at any corpus size.
    */
  def driftReport(baseline: DataFrame, current: DataFrame,
      valueCol: String, cuts: Seq[Double],
      smoothing: Double = 0.5): DataFrame = {
    require(cuts.nonEmpty && cuts == cuts.sorted,
      "cuts must be non-empty and ascending")
    driftFromCounts(
      bucketCounts(baseline, valueCol, cuts),
      bucketCounts(current, valueCol, cuts),
      cuts.size + 1, smoothing)
  }

  /** Frozen-cutoff bucket histogram: (bucket, n) with bucket =
    * 1 + #{c ∈ cuts : c < value} — the one corpus-sized aggregate
    * under [[driftReport]], exposed so incremental pipelines can
    * maintain the counts (monoid: per-bucket sum) and diff later.
    */
  def bucketCounts(df: DataFrame, valueCol: String,
      cuts: Seq[Double]): DataFrame = {
    require(cuts.nonEmpty && cuts == cuts.sorted,
      "cuts must be non-empty and ascending")
    val bucket = cuts.foldLeft(lit(1L)) { (acc, c) =>
      acc + when(col(valueCol) > c, 1L).otherwise(0L)
    }
    df.select(bucket.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
  }

  /** [[driftReport]] from pre-aggregated (bucket, n) tables — tiny
    * inputs (≤ `nBuckets` rows each), so the global-total windows and
    * outer join here are bounded regardless of the corpora the counts
    * came from.
    */
  def driftFromCounts(baseCounts: DataFrame, curCounts: DataFrame,
      nBuckets: Int, smoothing: Double = 0.5): DataFrame = {
    require(smoothing > 0, "smoothing must be positive")
    require(nBuckets > 0, "nBuckets must be positive")
    val joined0 = baseCounts
      .select(col("bucket"), col("n").as("base_n"))
      .join(curCounts.select(col("bucket"), col("n").as("cur_n")),
        Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("base_n"), lit(0L)).as("base_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
    // grand totals as a broadcast 1-row cross-join (the tiny-table
    // normalizer idiom; unpartitioned windows stay banned repo-wide)
    val joined = joined0.crossJoin(
      broadcast(joined0.agg(sum("base_n").as("__bt"),
        sum("cur_n").as("__ct"))))
    // smoothed fractions: (n + s) / (N + s·B) — a proper distribution
    // over the B buckets on both sides
    val baseF = (col("base_n") + smoothing) /
      (col("__bt") + lit(smoothing * nBuckets))
    val curF = (col("cur_n") + smoothing) /
      (col("__ct") + lit(smoothing * nBuckets))
    joined.select(col("bucket"), col("base_n"), col("cur_n"),
      baseF.as("base_frac"), curF.as("cur_frac"),
      ((curF - baseF) * log(curF / baseF)).as("psi_term"),
      (curF * log(curF / baseF)).as("kl_term"),
      (abs(curF - baseF) / 2).as("tv_term"))
  }

  /** Two-sample Kolmogorov–Smirnov distance, cut-free: both sides
    * reduce to one mergeable quantile sketch each (ONE aggregate per
    * side, any data size), and the statistic is the max empirical-CDF
    * gap evaluated over the union of retained sketch points — within
    * ~2× the sketches' rank error (≈1% of n at k = 200) of the exact
    * KS, which the spec pins against exact computation. The
    * continuous companion to [[driftReport]] when no frozen cuts
    * exist yet.
    */
  def ksDistance(a: DataFrame, b: DataFrame, valueCol: String,
      k: Int = 200): Double = {
    def sketchOf(df: DataFrame): graft.agg.Qsketch = {
      val spark = df.sparkSession
      import spark.implicits._
      df.select(col(valueCol).cast("double")).as[Double]
        .select(graft.agg.Qsketch.aggregator(k).toColumn)
        .head()
    }
    val sa = sketchOf(a)
    val sb = sketchOf(b)
    require(sa.n > 0 && sb.n > 0, "both sides must be non-empty")
    val grid = (sa.levels.flatten ++ sb.levels.flatten).distinct
    grid.map { x =>
      math.abs(sa.rank(x).toDouble / sa.n - sb.rank(x).toDouble / sb.n)
    }.max
  }

  /** One-row summary of [[driftReport]]: total PSI, KL divergence and
    * total-variation distance.
    */
  def driftSummary(baseline: DataFrame, current: DataFrame,
      valueCol: String, cuts: Seq[Double],
      smoothing: Double = 0.5): DataFrame =
    driftReport(baseline, current, valueCol, cuts, smoothing)
      .agg(sum("psi_term").as("psi"), sum("kl_term").as("kl"),
        sum("tv_term").as("tvd"))

  /** Gini concentration of a non-negative value column — "what share
    * of the corpus mass do the biggest holders own": 0 = perfectly
    * even, → 1 = one row owns everything. The one-number read behind
    * "is my corpus dominated by a handful of giant documents" (run it
    * on per-doc token counts) or revenue concentration. Uses the
    * grouped closed form over DISTINCT values v with multiplicity c:
    * Σᵢ i·xᵢ = Σ_v v·(c·before + c(c+1)/2), G = 2Σᵢi·xᵢ/(n·Σx) −
    * (n+1)/n. Returns one row (n, total, gini); NULL gini when the
    * total is 0.
    *
    * Scale shape: the [[graft.functions.Ranks]] prefix runs over the
    * DISTINCT-value table (the [[graft.ml.Eval.rocAuc]] kernel),
    * never over the rows.
    */
  def giniConcentration(df: DataFrame, valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val byV = df.select(v.as("v")).filter(col("v") >= 0)
      .groupBy("v").agg(count(lit(1)).as("c"))
    graft.functions.Ranks.prefixSums(byV, Seq(col("v")),
        Seq(col("c") -> "__before"), inclusive = false)
      .withColumn("ranksum",
        col("v") * (col("c") * col("__before") +
          col("c") * (col("c") + 1) / 2.0))
      .agg(sum("c").as("n"), sum(col("v") * col("c")).as("total"),
        sum("ranksum").as("rs"))
      .select(col("n"), col("total"),
        when(col("total") > 0.0,
          lit(2.0) * col("rs") / (col("n") * col("total")) -
            (col("n") + 1).cast("double") / col("n")).as("gini"))
  }

  /** Top-fraction mass concentration: for each requested fraction f,
    * the share of total column mass owned by the top ⌈f·n⌉ rows —
    * "the top 1% of documents hold 31% of the tokens", the companion
    * read to [[giniConcentration]] that names WHERE the skew lives.
    * Partial tie groups at the cut count pro-rata (exact closed
    * form, no sampling). Returns one row per fraction
    * (frac, k_rows, mass, share); share NULL when total mass is 0.
    *
    * Scale shape: the same DISTINCT-value running-sum kernel as the
    * Gini — the rows themselves are never globally sorted; the
    * fraction grid joins the (vocab-sized) cumulative table on a
    * range predicate against a literal array, evaluated per distinct
    * value.
    */
  def massConcentration(df: DataFrame, valCol: String,
      fracs: Seq[Double] = Seq(0.01, 0.1, 0.5)): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    require(fracs.nonEmpty && fracs.forall(f => f > 0 && f <= 1),
      s"fracs must be in (0, 1]: $fracs")
    val v = col(valCol).cast("double")
    val byV = df.select(v.as("v")).filter(col("v") >= 0)
      .groupBy("v").agg(count(lit(1)).as("c"))
    // descending cumulative rows/mass BEFORE each value group
    val wd = W.orderBy(col("v").desc)
    val before = coalesce(sum("c").over(wd
      .rowsBetween(W.unboundedPreceding, -1)), lit(0L))
    val massBefore = coalesce(sum(col("v") * col("c")).over(wd
      .rowsBetween(W.unboundedPreceding, -1)), lit(0.0))
    val cum = graft.core.PipelineCaches.persistTracked(
      byV.select(col("v"), col("c"), before.as("rows_before"),
        massBefore.as("mass_before")))
    val tot = cum.agg(sum("c").as("n"),
      sum(col("v") * col("c")).as("total"))
    val fr = df.sparkSession.range(1)
      .select(explode(lit(fracs.toArray)).as("frac"))
    val grid = cum.crossJoin(broadcast(tot)).crossJoin(broadcast(fr))
    // k = ceil(f·n); the group holding row k contributes pro-rata
    val k = ceil(col("frac") * col("n"))
    grid
      .filter(col("rows_before") < k &&
        k <= col("rows_before") + col("c"))
      .select(col("frac"), k.cast("long").as("k_rows"),
        (col("mass_before") +
          col("v") * (k - col("rows_before"))).as("mass"),
        col("total"))
      .select(col("frac"), col("k_rows"), col("mass"),
        when(col("total") > 0.0, col("mass") / col("total")).as("share"))
  }

  /** Benford first-digit deviation of a positive numeric column —
    * the classic fabricated-data / unit-mix smell test: observed
    * first-significant-digit shares vs Benford's log₁₀(1+1/d), with
    * the chi-squared distance as the headline number. The first digit
    * comes from STRING form of floor(v) (exact for values ≥ 1 —
    * engine-independent, no log10 edge cases); rows with v < 1 are
    * excluded. Returns 9 rows (digit, n, observed, expected) plus the
    * per-digit chi-squared term; sum the terms for the statistic.
    *
    * Scale shape: one scan → 9-row aggregate.
    */
  def benford(df: DataFrame, valCol: String): DataFrame = {
    val digit = substring(floor(col("v")).cast("long").cast("string"), 1, 1)
      .cast("int")
    val counts = df.select(col(valCol).cast("double").as("v"))
      .filter(col("v") >= 1.0)
      .select(digit.as("digit")).groupBy("digit")
      .agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum("n").as("nt"))
    counts.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("nt")).as("observed"),
        (log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0)))
          .as("expected"),
        col("nt"))
      .select(col("digit"), col("n"), col("observed"), col("expected"),
        ((col("observed") - col("expected")) *
          (col("observed") - col("expected")) / col("expected") *
          col("nt")).as("chi2_term"))
  }

  /** Spearman rank correlation of two numeric columns with midrank
    * tie handling — Pearson correlation of the average ranks, the
    * monotone-association number that survives heavy tails and
    * nonlinear scales (quality score vs document length, etc.).
    * Returns one row (n, rho); rho is NULL when either column is
    * constant.
    *
    * Scale shape: each column collapses to its DISTINCT values first
    * (hash aggregate), midranks come from a [[graft.functions.Ranks]]
    * prefix over that value table (the [[graft.ml.Eval.rocAuc]]
    * kernel), and the ranks join back value-keyed — the corpus
    * itself is never globally sorted.
    */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    def midranks(c: String) = {
      val byV = df.groupBy(col(c).as("v")).agg(count(lit(1)).as("n"))
      graft.functions.Ranks.prefixSums(byV, Seq(col("v")),
          Seq(col("n") -> "__b"), inclusive = false)
        .select(col("v"),
          (col("__b") + (col("n") + 1) / 2.0).as(s"__r_$c"))
    }
    df.select(col(xCol), col(yCol))
      .join(midranks(xCol).withColumnRenamed("v", xCol), xCol)
      .join(midranks(yCol).withColumnRenamed("v", yCol), yCol)
      .agg(count(lit(1)).as("n"),
        corr(col(s"__r_$xCol"), col(s"__r_$yCol")).as("rho"))
  }

  /** Per-stratum winsorization: clip `valCol` to its stratum's
    * [`lo`, `hi`] exact interpolated quantiles (the robust-scaling
    * step before any mean/variance statistic on heavy-tailed pipeline
    * scores — a handful of spam pages shouldn't own the corpus
    * z-scale). Appends `<valCol>_winsorized` (double) and a `clipped`
    * flag; all input columns pass through.
    *
    * Scale shape: one per-stratum exact-percentile aggregate (two
    * numbers per stratum), broadcast back over the scan — the data
    * itself is never shuffled, so this composes with pushdown and
    * costs one read at 100 TB. Strata count is assumed
    * dashboard-sized (it's a GROUP BY culture key, not an ID).
    */
  def winsorize(df: DataFrame, valCol: String, strataCol: String,
      lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    require(lo >= 0 && lo < hi && hi <= 1, "need 0 <= lo < hi <= 1")
    val v = col(valCol).cast("double")
    val cuts = df.groupBy(col(strataCol))
      .agg(percentile(v, lit(lo)).as("__lo"),
        percentile(v, lit(hi)).as("__hi"))
    df.join(broadcast(cuts), Seq(strataCol))
      .withColumn(s"${valCol}_winsorized",
        least(greatest(v, col("__lo")), col("__hi")))
      .withColumn("clipped", v < col("__lo") || v > col("__hi"))
      .drop("__lo", "__hi")
  }

  /** Per-dimension embedding drift between two vector corpora — the
    * embedding-space companion to [[driftReport]]'s histogram PSI:
    * when the encoder, the upstream corpus, or a preprocessing step
    * changes, WHICH dimensions moved (and by how many pooled standard
    * deviations) is the actionable readout. Returns one row per
    * dimension: (i, mean_a, mean_b, var_a, var_b, smd) where smd is
    * the standardized mean difference |μa−μb| / √((va+vb)/2)
    * (Cohen's d with pooled population variances; 0 when both
    * variances are 0).
    *
    * Scale shape: one posexplode + (dim)-keyed hash aggregate per
    * side (map-side partial over every partition), then a d-row
    * join — the corpora stream through once each and only 2·d rows
    * shuffle.
    */
  def embeddingDrift(a: DataFrame, b: DataFrame,
      vecCol: String): DataFrame = {
    def moments(df: DataFrame) = df
      .select(posexplode(col(vecCol)).as(Seq("i", "x")))
      .select(col("i").cast("long").as("i"), col("x").cast("double").as("x"))
      .groupBy("i")
      .agg(avg("x").as("mean"), var_pop(col("x")).as("var"))
    val pooled = sqrt((col("var_a") + col("var_b")) / 2.0)
    moments(a).select(col("i"), col("mean").as("mean_a"),
        col("var").as("var_a"))
      .join(moments(b).select(col("i"), col("mean").as("mean_b"),
        col("var").as("var_b")), Seq("i"))
      .withColumn("smd",
        when(pooled > 0, abs(col("mean_a") - col("mean_b")) / pooled)
          .otherwise(lit(0.0)))
      .orderBy("i")
  }

  /** Quantile normalization across strata: map every row's value onto
    * the POOLED distribution's quantile at the row's within-stratum
    * rank — the cross-source score harmonizer (a "0.8" from an
    * easy-grading source and a "0.5" from a harsh one land on
    * comparable pooled values before any global threshold is
    * applied). The mapping is fully discrete: within stratum g of
    * size n_g, the row ranked r (row_number by (value, id)) targets
    * pooled position ⌈r · N / n_g⌉ and receives the pooled value
    * whose cumulative count first reaches that position — no
    * interpolating percentile, so any engine replays it exactly.
    * Returns the rows + (stratum_rank, pooled_pos, normalized).
    *
    * Scale shape: per-stratum rank windows (partitioned), ONE
    * distinct-VALUE cumulative sum on the pooled side (the
    * midrank discipline — never a global row sort of the corpus),
    * and a cum-range join (cb < pos ≤ cb + c) that is an
    * interval-bucketed lookup, not all-pairs. The pooled cumulative
    * sum is a [[graft.functions.Ranks]] prefix.
    */
  def quantileNormalize(df: DataFrame, idCol: String, strataCol: String,
      valueCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).as("id"), col(strataCol).as("stratum"),
      col(valueCol).cast("double").as("v"))
    val perStratum = W.partitionBy("stratum")
      .orderBy(col("v").asc, col("id").asc)
    val sized = base
      .withColumn("stratum_rank", row_number().over(perStratum))
      .withColumn("ng", count(lit(1)).over(W.partitionBy("stratum")))
    val pooledCounts = base.groupBy(col("v").as("pv"))
      .agg(count(lit(1)).as("c"))
    val pooledVals = graft.functions.Ranks.prefixSums(pooledCounts,
      Seq(col("pv")), Seq(col("c") -> "cb"), inclusive = false)
    val n = base.groupBy().agg(count(lit(1)).as("n_total"))
    // position→value lookup as a BUCKETED interval join (the
    // q_join_interval shape): a pooled value covers positions
    // (cb, cb+c]; both sides key on floor((pos−1)·B/N) so the range
    // predicate only runs within a bucket, never all-pairs
    val B = 1024
    val intervals = pooledVals.crossJoin(broadcast(n))
      .withColumn("bkt", explode(sequence(
        floor(col("cb") * B / col("n_total")),
        floor((col("cb") + col("c") - 1) * B / col("n_total")))))
      .select(col("bkt"), col("pv"), col("c"), col("cb"))
    sized.crossJoin(broadcast(n))
      // double math (not long·long) so the rank×N product can't
      // overflow at corpus scale; the oracle spells the identical
      // expression
      .withColumn("pooled_pos",
        ceil(col("stratum_rank").cast("double") * col("n_total") /
          col("ng")).cast("long"))
      .withColumn("bkt",
        floor((col("pooled_pos") - 1) * B / col("n_total")))
      .join(intervals, Seq("bkt"))
      .filter(col("cb") < col("pooled_pos") &&
        col("pooled_pos") <= col("cb") + col("c"))
      .select(col("id"), col("stratum"), col("v"), col("stratum_rank"),
        col("pooled_pos"), col("pv").as("normalized"))
  }
  /** Hellinger + Bhattacharyya distance between two bucket-count
    * distributions — the bounded, symmetric drift pair reported next
    * to [[driftFromCounts]]'s PSI/KL/TVD terms: Hellinger ∈ [0,1]
    * (√(1−BC), proper metric — usable as a threshold that means the
    * same thing for every column), Bhattacharyya −ln(BC) ∈ [0,∞).
    * Same smoothed-fraction convention as driftFromCounts so empty
    * buckets on one side never zero the coefficient. Returns one row
    * (n_buckets, bc, hellinger, bhattacharyya).
    *
    * Scale shape: one full-outer bucket join + one scalar aggregate —
    * bucket-table sized, the corpus reduced upstream by whoever built
    * the counts.
    */
  def hellingerFromCounts(baseCounts: DataFrame, curCounts: DataFrame,
      nBuckets: Int, smoothing: Double = 0.5): DataFrame = {
    require(smoothing > 0, "smoothing must be positive")
    require(nBuckets > 0, "nBuckets must be positive")
    val joined0 = baseCounts
      .select(col("bucket"), col("n").as("base_n"))
      .join(curCounts.select(col("bucket"), col("n").as("cur_n")),
        Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("base_n"), lit(0L)).as("base_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
    val joined = joined0.crossJoin(
      broadcast(joined0.agg(sum("base_n").as("__bt"),
        sum("cur_n").as("__ct"))))
    val baseF = (col("base_n") + smoothing) /
      (col("__bt") + lit(smoothing * nBuckets))
    val curF = (col("cur_n") + smoothing) /
      (col("__ct") + lit(smoothing * nBuckets))
    joined
      .select(sqrt(baseF * curF).as("bc_term"))
      .agg(count(lit(1)).as("n_buckets"), sum("bc_term").as("bc"))
      .select(col("n_buckets"), col("bc"),
        // the smoothed fractions are proper distributions, but float
        // summation can land a hair above 1 — clamp before the sqrt
        sqrt(greatest(lit(1.0) - col("bc"), lit(0.0))).as("hellinger"),
        (lit(0.0) - log(col("bc"))).as("bhattacharyya"))
  }
}
