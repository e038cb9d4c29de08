package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Ranks

/** Model- and ranking-evaluation metrics over pipeline outputs: the
  * numbers a training-data team reads before trusting a quality
  * classifier (ROC AUC, average precision), a retrieval index
  * (NDCG@k), or a labeling workflow (Cohen's kappa). All are exact
  * closed forms computed with aggregates and bounded windows — no
  * per-row driver work, no sampling.
  */
object Eval {

  /** ROC AUC via the Mann–Whitney U statistic with midrank tie
    * handling — the exact area under the ROC curve, identical to the
    * trapezoidal integral over the empirical curve. `labelCol` must
    * be 0/1 (or boolean); `scoreCol` any orderable numeric. Returns
    * one row (n_pos, n_neg, auc); `auc` is NULL when either class is
    * empty.
    *
    * Scale shape: one hash aggregate collapses the scan to DISTINCT
    * scores (each carrying total/positive counts), then a running-sum
    * window over that score table assigns midranks. The window is
    * single-partition but over the SCORE VOCABULARY, not the corpus —
    * for calibrated model scores rounded to a few decimals that is
    * thousands of rows regardless of input size (the same
    * vocab-window tradeoff [[TextAnalysis.zipfFit]] documents);
    * [[graft.functions.Ranks]] picks the two-pass prefix instead when
    * the table outgrows one task (continuous scores).
    */
  def rocAuc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val lab = col(labelCol).cast("int")
    val byScore = df.select(col(scoreCol).as("s"), lab.as("y"))
      .groupBy("s").agg(count(lit(1)).as("n"), sum("y").as("p"))
    // midrank of a tie block starting after `before` rows with n
    // members = before + (n+1)/2; U = sum of positive midranks
    val withBefore = Ranks.prefixSums(byScore, Seq(col("s")),
      Seq(col("n") -> "b"), inclusive = false)
    withBefore
      .withColumn("midrank", col("b") + (col("n") + 1) / 2.0)
      .agg(sum("p").as("n_pos"), (sum("n") - sum("p")).as("n_neg"),
        sum(col("p") * col("midrank")).as("rank_sum"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          (col("rank_sum") - col("n_pos") * (col("n_pos") + 1) / 2.0) /
            (col("n_pos") * col("n_neg"))).as("auc"))
  }

  /** Average precision (area under the precision–recall curve, step
    * convention) with ties grouped: score blocks are taken whole in
    * descending-score order, each block contributing its recall mass
    * at the block-end precision. Equals the classic
    * Σ P(k)·Δrel(k) / n_pos when scores are distinct. Returns one row
    * (n_pos, ap); NULL ap when there are no positives.
    *
    * Same scale shape as [[rocAuc]]: both cumulative sums run over
    * distinct scores only, in one [[graft.functions.Ranks]] prefix.
    */
  def averagePrecision(df: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    val lab = col(labelCol).cast("int")
    val byScore = df.select(col(scoreCol).as("s"), lab.as("y"))
      .groupBy("s").agg(count(lit(1)).as("n"), sum("y").as("p"))
    Ranks.prefixSums(byScore, Seq(col("s").desc),
        Seq(col("n") -> "cum_n", col("p") -> "cum_p"), inclusive = true)
      .agg(sum("p").as("n_pos"),
        sum(col("p") * col("cum_p") / col("cum_n")).as("wsum"))
      .select(col("n_pos"),
        when(col("n_pos") > 0, col("wsum") / col("n_pos")).as("ap"))
  }

  /** NDCG@k per query: rank items by `scoreCol` descending (ties
    * broken by `itemCol` ascending so every engine ranks
    * identically), gain = graded `relCol` (identity gain — use
    * 2^rel−1 upstream if exponential gain is wanted), discount =
    * 1/log2(rank+1). The ideal ordering re-ranks the SAME candidate
    * set by relevance, so ndcg ≤ 1 and = 1 iff the predicted order is
    * relevance-sorted. Returns (query, dcg, idcg, ndcg); ndcg is NULL
    * when idcg = 0 (no relevant candidates).
    *
    * Scale shape: one exchange on the query key, two in-partition
    * sorts (predicted + ideal rank), one aggregate — per-query state
    * is the candidate list the caller already materialized (top-k
    * sized, bounded).
    */
  def ndcgAtK(df: DataFrame, queryCol: String, itemCol: String,
      scoreCol: String, relCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val wPred = Window.partitionBy(queryCol)
      .orderBy(col(scoreCol).desc, col(itemCol).asc)
    val wIdeal = Window.partitionBy(queryCol)
      .orderBy(col(relCol).desc, col(itemCol).asc)
    def gainAt(rank: org.apache.spark.sql.Column) =
      when(rank <= k,
        col(relCol).cast("double") / log2(rank.cast("double") + 1.0))
        .otherwise(0.0)
    df.select(col(queryCol), col(itemCol), col(scoreCol), col(relCol))
      .withColumn("g_pred", gainAt(row_number().over(wPred)))
      .withColumn("g_ideal", gainAt(row_number().over(wIdeal)))
      .groupBy(col(queryCol).as("query"))
      .agg(sum("g_pred").as("dcg"), sum("g_ideal").as("idcg"))
      .select(col("query"), col("dcg"), col("idcg"),
        when(col("idcg") > 0, col("dcg") / col("idcg")).as("ndcg"))
  }

  /** Rank-biased overlap (Webber, Moffat & Zobel 2010), truncated at
    * depth `d`: RBO@d = (1−p) Σ_{k=1..d} p^{k−1} · |A_k ∩ B_k| / k,
    * the top-weighted agreement between two rankings of the same
    * query — the standard "did the cheap index change what the user
    * sees" number for comparing retrieval variants. `a` and `b` are
    * (query, item, rank) tables with 1-based dense ranks; the
    * truncated form is reported (no extrapolation residual). Returns
    * (query, rbo) for every query in `a`, 0.0 when the top-d sets are
    * disjoint; rbo = 1 iff the top-d lists agree exactly.
    *
    * Scale shape: rewrite Σ_k weight·X_k/k as a per-ITEM tail sum —
    * an item first counted at depth m = max(rank_a, rank_b)
    * contributes p^{k−1}/k for every k in [m, d] — so the work is one
    * (query, item) equi-join plus a ≤d-wide generate per overlapping
    * item. No per-depth re-scan, no window.
    */
  def rbo(a: DataFrame, b: DataFrame, queryCol: String, itemCol: String,
      rankCol: String, p: Double, d: Int): DataFrame = {
    require(p > 0 && p < 1, s"p must be in (0,1), got $p")
    require(d >= 1, s"d must be >= 1, got $d")
    val ra = a.select(col(queryCol).as("query"), col(itemCol).as("item"),
      col(rankCol).as("ra"))
    val rb = b.select(col(queryCol).as("query"), col(itemCol).as("item"),
      col(rankCol).as("rb"))
    val tails = ra.join(rb, Seq("query", "item"))
      .filter(greatest(col("ra"), col("rb")) <= d)
      .select(col("query"),
        explode(sequence(greatest(col("ra"), col("rb")).cast("int"),
          lit(d))).as("k"))
      .groupBy("query")
      .agg((sum(pow(lit(p), col("k") - 1) / col("k")) * (1 - p)).as("rbo"))
    ra.select("query").distinct()
      .join(tails, Seq("query"), "left")
      .select(col("query"), coalesce(col("rbo"), lit(0.0)).as("rbo"))
  }

  /** Fleiss' kappa for m raters over categorical labels: the
    * multi-rater generalization of [[cohenKappa]]. `df` holds one row
    * per (item, rating); every item must carry exactly the same
    * number of ratings m ≥ 2 (validated with one tiny aggregate —
    * Fleiss is undefined otherwise). Returns one row
    * (n_items, m, p_bar, pe_bar, kappa); kappa NULL when pe = 1.
    *
    * Scale shape: one (item, category) hash aggregate, one per-item
    * aggregate of Σn_ij², one category-marginal aggregate — the
    * corpus is scanned once and everything downstream is
    * items + categories sized.
    */
  def fleissKappa(df: DataFrame, itemCol: String,
      categoryCol: String): DataFrame = {
    val cells = graft.core.PipelineCaches.persistTracked(
      df.groupBy(col(itemCol).as("item"), col(categoryCol).as("cat"))
        .agg(count(lit(1)).as("c")))
    val perItem = graft.core.PipelineCaches.persistTracked(
      cells.groupBy("item")
        .agg(sum("c").as("m"), sum(col("c") * col("c")).as("sq")))
    val ms = perItem.agg(min("m").as("lo"), max("m").as("hi")).head()
    val m = ms.getLong(0)
    require(m == ms.getLong(1) && m >= 2,
      s"fleissKappa needs a constant rating count >= 2 per item, " +
        s"got [${ms.getLong(0)}, ${ms.getLong(1)}]")
    val pbar = perItem.agg(count(lit(1)).as("n_items"),
      avg((col("sq") - m).cast("double") / (m * (m - 1.0))).as("p_bar"))
    val pe = cells.groupBy("cat").agg(sum("c").as("cj"))
      .agg(sum(pow(col("cj").cast("double"), 2.0)).as("sq2"),
        sum("cj").as("tot"))
      .select((col("sq2") / (col("tot").cast("double") * col("tot")))
        .as("pe_bar"))
    pbar.crossJoin(pe)
      .select(col("n_items"), lit(m).as("m"), col("p_bar"), col("pe_bar"),
        when(col("pe_bar") < 1.0, (col("p_bar") - col("pe_bar")) /
          (lit(1.0) - col("pe_bar"))).as("kappa"))
  }

  /** Weighted Cohen's kappa for ORDINAL scales: disagreement is
    * discounted by how far apart the two ratings are —
    * w_ij = 1 − |i−j|/(K−1) (linear) or 1 − ((i−j)/(K−1))²
    * (quadratic, the variant that equals an ICC). Ratings must be
    * non-negative integer levels spanning [0, K); K is taken from the
    * data (max level + 1 across both raters), so a scale whose levels
    * don't start at 0 must be shifted by the caller first. Degenerate
    * input (every rating the same single level → K = 1, the weight
    * normalizer 1/(K−1) is 0/0) and negative levels raise at
    * execution rather than returning NaN. Returns one row
    * (n, k_levels, po_w, pe_w, kappa); NULL kappa when pe_w = 1.
    *
    * Same scale shape as [[cohenKappa]]: one contingency aggregate,
    * then K²-sized arithmetic (the full marginal product grid comes
    * from a K×K join of the two marginal tables, never from the
    * corpus).
    */
  def weightedKappa(df: DataFrame, r1Col: String, r2Col: String,
      quadratic: Boolean = true): DataFrame = {
    val cells = graft.core.PipelineCaches.persistTracked(
      df.groupBy(col(r1Col).cast("long").as("i"),
        col(r2Col).cast("long").as("j")).agg(count(lit(1)).as("c")))
    val kTab = cells.agg((greatest(max("i"), max("j")) + 1).as("k"),
        sum("c").as("n"), least(min("i"), min("j")).as("lo"))
      .select(
        when(col("k") < 2, raise_error(lit(
          "weightedKappa requires >= 2 distinct rating levels " +
            "(all ratings identical, or empty input)")))
          .when(col("lo") < 0, raise_error(lit(
            "weightedKappa ratings must be non-negative integer levels in [0, K)")))
          .otherwise(col("k")).as("k"),
        col("n"))
    def weight(i: org.apache.spark.sql.Column, j: org.apache.spark.sql.Column,
        k: org.apache.spark.sql.Column) = {
      val d = abs(i - j).cast("double") / (k - 1).cast("double")
      if (quadratic) lit(1.0) - d * d else lit(1.0) - d
    }
    val po = cells.crossJoin(broadcast(kTab))
      .agg(sum(weight(col("i"), col("j"), col("k")) * col("c")).as("wsum"),
        max("n").as("n"), max("k").as("k"))
      .select((col("wsum") / col("n")).as("po_w"), col("n"), col("k"))
    val m1 = cells.groupBy("i").agg(sum("c").as("ci"))
    val m2 = cells.groupBy("j").agg(sum("c").as("cj"))
    val pe = m1.crossJoin(m2).crossJoin(broadcast(kTab))
      .agg(sum(weight(col("i"), col("j"), col("k")) *
        (col("ci").cast("double") * col("cj"))).as("wx"),
        max("n").as("nn"))
      .select((col("wx") / (col("nn").cast("double") * col("nn")))
        .as("pe_w"))
    po.crossJoin(pe)
      .select(col("n"), col("k").as("k_levels"), col("po_w"), col("pe_w"),
        when(col("pe_w") < 1.0, (col("po_w") - col("pe_w")) /
          (lit(1.0) - col("pe_w"))).as("kappa"))
  }

  /** Krippendorff's alpha, nominal metric — the agreement
    * coefficient that tolerates MISSING ratings (any unit with ≥ 2
    * ratings contributes; raters need not rate everything), which is
    * what real labeling queues produce. `df` holds one row per
    * (unit, rating). Units with a single rating are excluded per the
    * definition. α = 1 − D_o/D_e with the standard coincidence-matrix
    * forms: D_o = Σ_u (m_u² − Σ_c n_uc²)/(m_u − 1) over n pairable
    * values, D_e = (n² − Σ_c n_c²)/(n − 1) (both left unnormalized by
    * the common n so the ratio is the textbook one). Returns one row
    * (n_units, n_values, d_o, d_e, alpha); NULL alpha when D_e = 0.
    *
    * Scale shape: one (unit, category) aggregate, one per-unit
    * aggregate, one category-marginal aggregate — single corpus scan,
    * everything downstream units + categories sized.
    */
  def krippendorffAlpha(df: DataFrame, unitCol: String,
      categoryCol: String): DataFrame = {
    val cells = graft.core.PipelineCaches.persistTracked(
      df.groupBy(col(unitCol).as("unit"), col(categoryCol).as("cat"))
        .agg(count(lit(1)).as("c")))
    val perUnit = graft.core.PipelineCaches.persistTracked(
      cells.groupBy("unit")
        .agg(sum("c").as("m"), sum(col("c") * col("c")).as("sq"))
        .filter(col("m") >= 2))
    val obs = perUnit.agg(count(lit(1)).as("n_units"),
      sum("m").as("n_values"),
      sum((col("m") * col("m") - col("sq")).cast("double") /
        (col("m") - 1)).as("d_o"))
    // category marginals over PAIRABLE units only
    val marg = cells.join(perUnit.select("unit"), "unit")
      .groupBy("cat").agg(sum("c").as("nc"))
    val exp = marg.agg(sum("nc").as("nv"),
        sum(col("nc") * col("nc")).as("sq2"))
      .select(((col("nv") * col("nv") - col("sq2")).cast("double") /
        (col("nv") - 1)).as("d_e"))
    obs.crossJoin(exp)
      .select(col("n_units"), col("n_values"), col("d_o"), col("d_e"),
        when(col("d_e") > 0.0,
          lit(1.0) - col("d_o") / col("d_e")).as("alpha"))
  }

  /** Mann–Whitney U two-sample test with the tie-corrected normal
    * approximation: U for the label-1 group from midrank sums, then
    * z = (U − n₁n₂/2) / σ with
    * σ² = (n₁n₂/12)·((n+1) − Σ(t³−t)/(n(n−1))) over tie-block sizes
    * t — the location test behind "did this corpus change shift the
    * metric" when normality is off the table. No continuity
    * correction (mirror any oracle accordingly). Also reports Cliff's
    * delta = 2U/(n₁n₂) − 1, the rank effect size in [−1, 1] (0 = no
    * stochastic dominance), so significance never ships without
    * magnitude. Returns one row (n1, n2, u, z, cliffs_delta); z NULL
    * when σ = 0 (all values tied).
    *
    * Same scale shape as [[rocAuc]] — the tie-block sizes fall out of
    * the same distinct-score table the midranks use.
    */
  def mannWhitney(df: DataFrame, valueCol: String,
      labelCol: String): DataFrame = {
    val lab = col(labelCol).cast("int")
    val byScore = df.select(col(valueCol).as("s"), lab.as("y"))
      .groupBy("s").agg(count(lit(1)).as("n"), sum("y").as("p"))
    val withBefore = Ranks.prefixSums(byScore, Seq(col("s")),
      Seq(col("n") -> "b"), inclusive = false)
    withBefore
      .withColumn("midrank", col("b") + (col("n") + 1) / 2.0)
      .agg(sum("p").as("n1"), (sum("n") - sum("p")).as("n2"),
        sum("n").as("nt"),
        sum(col("p") * col("midrank")).as("rank_sum"),
        sum(col("n") * col("n") * col("n") - col("n")).as("ties"))
      .select(col("n1"), col("n2"),
        (col("rank_sum") - col("n1") * (col("n1") + 1) / 2.0).as("u"),
        (col("n1").cast("double") * col("n2") / 12.0 *
          ((col("nt") + 1) - col("ties").cast("double") /
            (col("nt").cast("double") * (col("nt") - 1)))).as("var"))
      .select(col("n1"), col("n2"), col("u"),
        when(col("var") > 0.0,
          (col("u") - col("n1").cast("double") * col("n2") / 2.0) /
            sqrt(col("var"))).as("z"),
        (lit(2.0) * col("u") / (col("n1").cast("double") * col("n2")) -
          1.0).as("cliffs_delta"))
  }

  /** Binary log-loss (cross-entropy) with probability clipping:
    * −mean(y·ln p̂ + (1−y)·ln(1−p̂)), p̂ = clamp(p, eps, 1−eps) — the
    * proper scoring rule trained models optimize, reported next to
    * [[rocAuc]] so calibration regressions can't hide behind a stable
    * ranking. Returns one row (n, log_loss).
    *
    * Scale shape: one scan, one aggregate.
    */
  def logLoss(df: DataFrame, scoreCol: String, labelCol: String,
      eps: Double = 1e-15): DataFrame = {
    require(eps > 0 && eps < 0.5, s"eps must be in (0, 0.5), got $eps")
    val p = least(greatest(col(scoreCol).cast("double"), lit(eps)),
      lit(1.0) - eps)
    val y = col(labelCol).cast("int")
    df.select(p.as("p"), y.as("y"))
      .agg(count(lit(1)).as("n"),
        (-avg(col("y") * log(col("p")) +
          (lit(1) - col("y")) * log(lit(1.0) - col("p")))).as("log_loss"))
  }

  /** Confusion-matrix report at a decision threshold: counts plus
    * precision / recall / F1 / accuracy — the numbers that turn a
    * scored corpus into a keep/drop decision. Predictions are
    * score ≥ threshold. Returns one row (n, tp, fp, fn, tn,
    * precision, recall, f1, accuracy); rate columns NULL where their
    * denominator is 0.
    *
    * Scale shape: one scan, one aggregate of four counters.
    */
  def binaryConfusion(df: DataFrame, scoreCol: String, labelCol: String,
      threshold: Double): DataFrame = {
    val pred = (col(scoreCol).cast("double") >= threshold).cast("int")
    val y = col(labelCol).cast("int")
    df.select(pred.as("p"), y.as("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("p") * col("y")).as("tp"),
        sum(col("p") * (lit(1) - col("y"))).as("fp"),
        sum((lit(1) - col("p")) * col("y")).as("fn"),
        sum((lit(1) - col("p")) * (lit(1) - col("y"))).as("tn"))
      .select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp")))
          .as("precision"),
        when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn"))).as("recall"),
        when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
          lit(2.0) * col("tp") /
            (lit(2) * col("tp") + col("fp") + col("fn"))).as("f1"),
        ((col("tp") + col("tn")).cast("double") / col("n")).as("accuracy"))
  }

  /** Brier score with the Murphy (1973) reliability/resolution/
    * uncertainty decomposition over FROZEN score bins (explicit
    * `cuts`, the [[Calibrate]] house convention — no data-dependent
    * binning): brier = mean (p−y)², and over bins
    * REL = Σ nₖ/n·(p̄ₖ−ȳₖ)² (calibration error, lower better),
    * RES = Σ nₖ/n·(ȳₖ−ȳ)² (discrimination, higher better),
    * UNC = ȳ(1−ȳ); binned forecasts satisfy
    * brier_binned = REL − RES + UNC exactly. Returns one row
    * (n, brier, reliability, resolution, uncertainty, brier_binned).
    *
    * Scale shape: one scan computes the raw Brier partials and the
    * per-bin aggregate (bins = |cuts|+1, bounded); the global mean ȳ
    * comes from the same bin table. No window, no second scan.
    */
  def brierDecomposition(df: DataFrame, scoreCol: String, labelCol: String,
      cuts: Seq[Double]): DataFrame = {
    require(cuts.nonEmpty && cuts == cuts.sorted && cuts.distinct == cuts,
      s"cuts must be non-empty, sorted, distinct: $cuts")
    val p = col(scoreCol).cast("double")
    val y = col(labelCol).cast("int")
    val bin = cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(p >= c, 1).otherwise(0)
    }
    val bins = graft.core.PipelineCaches.persistTracked(
      df.select(p.as("p"), y.as("y"), bin.as("bin"))
        .groupBy("bin")
        .agg(count(lit(1)).as("nk"), avg("p").as("pk"), avg("y").as("yk"),
          sum((p - y) * (p - y)).as("sq")))
    val tot = bins.agg(sum("nk").as("n"),
      (sum(col("yk") * col("nk")) / sum("nk")).as("ybar"),
      (sum("sq") / sum("nk")).as("brier"))
    bins.crossJoin(broadcast(tot))
      .agg(max("n").as("n"), max("brier").as("brier"),
        (sum(col("nk") * (col("pk") - col("yk")) * (col("pk") - col("yk")))
          / max("n")).as("reliability"),
        (sum(col("nk") * (col("yk") - col("ybar")) *
          (col("yk") - col("ybar"))) / max("n")).as("resolution"),
        max(col("ybar") * (lit(1.0) - col("ybar"))).as("uncertainty"))
      .select(col("n"), col("brier"), col("reliability"), col("resolution"),
        col("uncertainty"),
        (col("reliability") - col("resolution") + col("uncertainty"))
          .as("brier_binned"))
  }

  /** Pearson chi-squared test of independence over two categorical
    * columns, plus Cramér's V effect size: X² = Σ (o−e)²/e with
    * e = row·col/n over the contingency cells,
    * V = √(X² / (n·(min(R,C)−1))). The statistic and dof are exact;
    * convert to a p-value with any chi-squared CDF downstream (no
    * special functions in-engine by design). Returns one row
    * (n, n_rows, n_cols, dof, chi2, cramers_v); NULLs when the table
    * is degenerate (a single row or column).
    *
    * Scale shape: one contingency aggregate; expected counts come
    * from joining the two marginal tables back on the cell keys —
    * R+C-sized, broadcast.
    */
  def chiSquared(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = graft.core.PipelineCaches.persistTracked(
      df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
        .agg(count(lit(1)).as("c")))
    val ra = cells.groupBy("a").agg(sum("c").as("ca"))
    val cb = cells.groupBy("b").agg(sum("c").as("cb"))
    val tot = cells.agg(sum("c").as("n"),
      countDistinct("a").as("nr"), countDistinct("b").as("nc"))
    val e = col("ca").cast("double") * col("cb") / col("n")
    cells.join(broadcast(ra), "a").join(broadcast(cb), "b")
      .crossJoin(broadcast(tot))
      .agg(max("n").as("n"), max("nr").as("n_rows"), max("nc").as("n_cols"),
        sum((col("c") - e) * (col("c") - e) / e).as("chi2"))
      .select(col("n"), col("n_rows"), col("n_cols"),
        ((col("n_rows") - 1) * (col("n_cols") - 1)).as("dof"),
        col("chi2"),
        when(col("n_rows") > 1 && col("n_cols") > 1,
          sqrt(col("chi2") / (col("n").cast("double") *
            (least(col("n_rows"), col("n_cols")) - 1)))).as("cramers_v"))
  }

  /** Cohen's kappa for two raters over the same items: observed
    * agreement p_o corrected for the chance agreement p_e of the
    * raters' marginal label distributions — the standard
    * inter-annotator reliability number for labeling pipelines.
    * Returns one row (n, po, pe, kappa); kappa is NULL in the
    * degenerate pe = 1 case (both raters constant and equal).
    *
    * Scale shape: one (r1, r2) contingency aggregate collapses the
    * corpus to |labels|² cells; everything after runs on that tiny
    * table (marginal sums + one label-keyed join), so the input is
    * scanned exactly once.
    */
  /** Mean reciprocal rank over ranked result lists: per query the
    * reciprocal of the FIRST relevant item's rank (0 when nothing
    * relevant — the standard convention), averaged over all queries.
    * The navigational-search / retrieval-eval companion to NDCG/AP.
    * Returns one row (n_queries, n_with_relevant, mrr).
    *
    * Scale shape: one conditional-min aggregate per query key (the
    * corpus collapses to |queries| rows in the first hash
    * aggregation), then one global average.
    */
  def meanReciprocalRank(df: DataFrame, queryCol: String, rankCol: String,
      relevantCol: String): DataFrame = {
    val perQuery = df.groupBy(col(queryCol).as("q"))
      .agg(min(when(col(relevantCol).cast("boolean"), col(rankCol)))
        .as("first_rel"))
    perQuery.agg(count(lit(1)).as("n_queries"),
      count(col("first_rel")).as("n_with_relevant"),
      avg(coalesce(lit(1.0) / col("first_rel"), lit(0.0))).as("mrr"))
  }

  /** Per-query reciprocal-rank table (the drill-down behind
    * [[meanReciprocalRank]]): (query, n_ranked, first_relevant_rank,
    * rr) — first_relevant_rank NULL and rr 0 when nothing relevant.
    */
  def reciprocalRanks(df: DataFrame, queryCol: String, rankCol: String,
      relevantCol: String): DataFrame =
    df.groupBy(col(queryCol).as("query"))
      .agg(count(lit(1)).as("n_ranked"),
        min(when(col(relevantCol).cast("boolean"), col(rankCol)))
          .as("first_relevant_rank"))
      .withColumn("rr",
        coalesce(lit(1.0) / col("first_relevant_rank"), lit(0.0)))

  /** Precision@k and recall@k per query over a ranked result table —
    * the retrieval-eval companions to [[meanReciprocalRank]]/NDCG:
    * precision@k = relevant-in-top-k / k, recall@k =
    * relevant-in-top-k / relevant-anywhere-in-the-list (NULL when a
    * query has no relevant items at all). One conditional hash
    * aggregate per query key; the corpus collapses to |queries| rows.
    */
  def precisionRecallAtK(df: DataFrame, queryCol: String, rankCol: String,
      relevantCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val rel = col(relevantCol).cast("boolean")
    df.groupBy(col(queryCol).as("query"))
      .agg(
        sum(when(rel && col(rankCol) <= k, 1L).otherwise(0L))
          .as("rel_at_k"),
        sum(when(rel, 1L).otherwise(0L)).as("rel_total"))
      .withColumn("precision_at_k", col("rel_at_k").cast("double") / k)
      .withColumn("recall_at_k",
        when(col("rel_total") > 0,
          col("rel_at_k").cast("double") / col("rel_total")))
  }

  /** Seeded Poisson bootstrap confidence interval for the mean of
    * `valueCol`: each of `b` replicates reweights every row by an
    * iid Poisson(1) count derived from md5(seed:id:rep) — the
    * single-pass bootstrap (no resampled copies of the data) that is
    * standard at scale because replicate weights are independent per
    * row. Returns one row (n, mean, lo, hi): the exact sample mean
    * and the empirical [alpha/2, 1-alpha/2] quantiles of the
    * replicate means (rank convention: lo = ceil(alpha/2·b)-th
    * smallest, hi = floor((1-alpha/2)·b)+1-th, ties by replicate id).
    *
    * Deterministic: with an integral `valueCol` the replicate means
    * are exact integer-ratio arithmetic, so any md5-capable engine
    * replays them bit-for-bit. Weight decoding shares
    * [[graft.events.Events.poissonHexThresholds]] with the
    * per-variant experiment bootstrap ([[graft.events.Events
    * .bootstrapCI]]) — this is the corpus-level (ungrouped,
    * string-id, string-seed) companion, not a second mechanism.
    *
    * Scale shape: the explode multiplies COMPUTE by b but the rows
    * are pipelined into a partial hash aggregate — the shuffle
    * carries b rows per task, never b× the corpus; the rank pass
    * sorts b rows. One corpus scan total (replicates and the plain
    * mean ride the same scan's aggregate).
    */
  def bootstrapMeanCI(df: DataFrame, idCol: String, valueCol: String,
      b: Int = 200, seed: String = "boot", alpha: Double = 0.05): DataFrame = {
    require(b >= 10, s"need b >= 10 replicates, got $b")
    require(alpha > 0 && alpha < 0.5, s"alpha must be in (0, 0.5), got $alpha")
    val ths = graft.events.Events.poissonHexThresholds
    val base = df.select(col(idCol).cast("string").as("__id"),
      col(valueCol).as("__x"))
    val h = substring(md5(concat_ws(":", lit(seed), col("__id"),
      col("rep").cast("string"))), 1, 8)
    val w = ths.zipWithIndex.foldRight(lit(ths.length): Column) {
      case ((t, k), rest) => when(h < lit(t), k).otherwise(rest)
    }
    val means = base
      .withColumn("rep", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("__w", w)
      .groupBy("rep")
      .agg((sum(col("__w") * col("__x")).cast("double") / sum("__w")).as("m"))
    val ranked = means.withColumn("rk",
      row_number().over(Window.orderBy(col("m"), col("rep"))))
    val loRank = math.max(1, math.ceil(alpha / 2 * b).toInt)
    val hiRank = math.min(b, math.floor((1 - alpha / 2) * b).toInt + 1)
    base.agg(count(lit(1)).as("n"),
        (sum("__x").cast("double") / count(lit(1))).as("mean"))
      .crossJoin(ranked.filter(col("rk") === loRank).select(col("m").as("lo")))
      .crossJoin(ranked.filter(col("rk") === hiRank).select(col("m").as("hi")))
  }

  def cohenKappa(df: DataFrame, r1Col: String, r2Col: String): DataFrame = {
    val cells = graft.core.PipelineCaches.persistTracked(
      df.groupBy(col(r1Col).as("r1"), col(r2Col).as("r2"))
        .agg(count(lit(1)).as("c")))
    val totals = cells.agg(sum("c").as("n"),
      sum(when(col("r1") === col("r2"), col("c")).otherwise(0L)).as("agree"))
    val m1 = cells.groupBy("r1").agg(sum("c").as("c1"))
    val m2 = cells.groupBy("r2").agg(sum("c").as("c2"))
    val chance = m1.join(m2, col("r1") === col("r2"))
      .agg(sum(col("c1").cast("double") * col("c2")).as("cross"))
    totals.crossJoin(chance)
      .select(col("n"),
        (col("agree").cast("double") / col("n")).as("po"),
        (col("cross") / (col("n").cast("double") * col("n"))).as("pe"))
      .select(col("n"), col("po"), col("pe"),
        when(col("pe") < 1.0,
          (col("po") - col("pe")) / (lit(1.0) - col("pe"))).as("kappa"))
  }

  /** One-way ANOVA F statistic across groups — "does ANY variant
    * move the metric" before pairwise tests: decompose total sum of
    * squares into between-group and within-group parts via the
    * computational identities SSB = Σ_g s_g²/n_g − S²/N and
    * SSW = Σx² − Σ_g s_g²/n_g (s_g = group sum, S = grand sum).
    * Returns one row (k, n, ss_between, ss_within, f, eta_sq) with
    * F = (SSB/(k−1)) / (SSW/(N−k)), NULL when a denominator
    * degenerates (k < 2 or N ≤ k or SSW = 0); eta_sq = SSB/SST is
    * the effect size. No p-value — like [[chiSquared]], the statistic
    * is the distributed part, threshold lookup is the caller's.
    *
    * Scale shape: one (group) hash aggregate collapses the corpus to
    * k rows, then one k-row aggregate — the corpus is scanned once.
    */
  def anovaF(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val per = df.select(col(groupCol).as("g"),
        col(valueCol).cast("double").as("x"))
      .groupBy("g").agg(count(lit(1)).as("ng"), sum("x").as("sg"),
        sum(col("x") * col("x")).as("qg"))
    per.agg(count(lit(1)).as("k"), sum("ng").as("n"),
        sum(col("sg") * col("sg") / col("ng")).as("gs"),
        sum("sg").as("s"), sum("qg").as("q"))
      .select(col("k"), col("n"),
        (col("gs") - col("s") * col("s") / col("n")).as("ss_between"),
        (col("q") - col("gs")).as("ss_within"))
      .select(col("k"), col("n"), col("ss_between"), col("ss_within"),
        when(col("k") > 1 && col("n") > col("k") && col("ss_within") > 0,
          (col("ss_between") / (col("k") - 1)) /
            (col("ss_within") / (col("n") - col("k")))).as("f"),
        when(col("ss_between") + col("ss_within") > 0,
          col("ss_between") / (col("ss_between") + col("ss_within")))
          .as("eta_sq"))
  }

  /** Benjamini–Hochberg FDR step-up over a table of hypothesis
    * p-values — the multiple-comparison correction for a metrics
    * dashboard that tests dozens of (metric, segment) cells per
    * experiment. adjusted_i = min_{j ≥ i} (p_j · m / j) clamped to 1
    * (ranks ascending by (p, test) so ties are deterministic);
    * significant = adjusted ≤ alpha, which reproduces the classic
    * step-up decision set. Returns (test, p, rank, p_adj,
    * significant).
    *
    * Scale contract: one row per HYPOTHESIS (panel-sized — the
    * experiment count, not the corpus), so the two global windows run
    * over a bounded table; every corpus-sized reduction happens
    * upstream in the tests that produced the p-values.
    */
  def bhFdr(df: DataFrame, testCol: String, pCol: String,
      alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha in (0,1)")
    val byP = Window.orderBy(col("p"), col("test"))
    val tail = Window.orderBy(col("rank"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    df.select(col(testCol).as("test"), col(pCol).cast("double").as("p"))
      .withColumn("rank", row_number().over(byP))
      .withColumn("m", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("p_adj",
        least(min(col("p") * col("m") / col("rank")).over(tail), lit(1.0)))
      .withColumn("significant", col("p_adj") <= alpha)
      .select("test", "p", "rank", "p_adj", "significant")
  }

  /** Cronbach's alpha internal-consistency reliability over a
    * (subject, item, value) long table — do the k items measure one
    * construct (rater batteries, multi-probe eval suites, quality
    * rubrics)? α = k/(k−1) · (1 − Σᵢσ²ᵢ / σ²_total), population
    * variances, computed over COMPLETE subjects only (a subject
    * missing an item would corrupt the total-score variance; the
    * standard complete-case convention, the dropped count is
    * visible as n_subjects). Repeated (subject, item) observations
    * average first. Returns one row (k, n_subjects, alpha).
    *
    * Scale shape: one (subject, item) hash aggregate, one subject
    * aggregate, one item aggregate — the corpus collapses in the
    * first step; everything after is grid-sized.
    */
  def cronbachAlpha(df: DataFrame, subjectCol: String, itemCol: String,
      valueCol: String): DataFrame = {
    val cell = graft.core.PipelineCaches.persistTracked(
      df.groupBy(col(subjectCol).as("subj"), col(itemCol).as("item"))
        .agg(avg(col(valueCol).cast("double")).as("x")))
    val kRow = cell.agg(countDistinct("item").as("k"))
    val complete = graft.core.PipelineCaches.persistTracked(
      cell.groupBy("subj")
        .agg(count(lit(1)).as("ki"), sum("x").as("total"))
        .crossJoin(broadcast(kRow))
        .filter(col("ki") === col("k")))
    val itemVar = cell.join(complete.select("subj"), "subj")
      .groupBy("item").agg(var_pop("x").as("v"))
      .agg(sum("v").as("siv"))
    val totVar = complete
      .agg(var_pop("total").as("vt"), count(lit(1)).as("n_subjects"),
        first("k").as("k"))
    totVar.crossJoin(broadcast(itemVar))
      .select(col("k"), col("n_subjects"),
        (col("k") / (col("k") - lit(1.0)) *
          (lit(1.0) - col("siv") / col("vt"))).as("alpha"))
  }

  /** Group-fairness report for a binary classifier (Hardt et al.
    * 2016 vocabulary): per group n, base rate, predicted-positive
    * rate (demographic parity read), TPR/FPR (equalized-odds reads)
    * and precision, with the corpus-level gaps (max − min across
    * groups) repeated on every row — dp_gap on the positive rate,
    * eo_gap = max(TPR gap, FPR gap). The pre-deployment audit table
    * for any quality/toxicity/PII classifier that gates training
    * data: a filter with a 20-point TPR gap between languages is
    * silently rewriting the corpus mix.
    *
    * Scale shape: one (group) hash aggregate, one 1-row gap
    * aggregate broadcast back. Groups with no positives (TPR NULL)
    * or no negatives (FPR NULL) are excluded from that gap only.
    */
  def fairnessReport(df: DataFrame, groupCol: String, labelCol: String,
      predCol: String): DataFrame = {
    val per = graft.core.PipelineCaches.persistTracked(
      df.groupBy(col(groupCol).cast("string").as("group"))
        .agg(count(lit(1)).as("n"),
          sum(when(col(labelCol), 1L).otherwise(0L)).as("pos"),
          sum(when(col(predCol), 1L).otherwise(0L)).as("pred_pos"),
          sum(when(col(labelCol) && col(predCol), 1L).otherwise(0L))
            .as("tp"),
          sum(when(!col(labelCol) && col(predCol), 1L).otherwise(0L))
            .as("fp"))
        .withColumn("base_rate", col("pos").cast("double") / col("n"))
        .withColumn("ppr", col("pred_pos").cast("double") / col("n"))
        .withColumn("tpr", when(col("pos") > 0,
          col("tp").cast("double") / col("pos")))
        .withColumn("fpr", when(col("n") - col("pos") > 0,
          col("fp").cast("double") / (col("n") - col("pos"))))
        .withColumn("precision", when(col("pred_pos") > 0,
          col("tp").cast("double") / col("pred_pos"))))
    val gaps = per.agg(
      (max("ppr") - min("ppr")).as("dp_gap"),
      greatest(coalesce(max("tpr") - min("tpr"), lit(0.0)),
        coalesce(max("fpr") - min("fpr"), lit(0.0))).as("eo_gap"))
    per.crossJoin(broadcast(gaps))
      .select("group", "n", "base_rate", "ppr", "tpr", "fpr",
        "precision", "dp_gap", "eo_gap")
  }

  /** Team-draft interleaving (Radlinski et al. 2008) — the online
    * ranker A/B method that needs ~100× fewer sessions than
    * metric-based tests: merge two rankings by alternating team
    * drafts, serve the merged list, credit each click to the team
    * that contributed the document. Per round, the team drafting
    * FIRST is decided by a deterministic md5 coin
    * (md5("query|round") first hex digit parity — replayable
    * anywhere, no RNG state), then each team takes its highest-
    * ranked not-yet-picked document. Returns (query, pos, doc,
    * team) with team ∈ 'A'/'B'.
    *
    * `a`, `b`: (query, doc, rank) per-query ranked lists, BOUNDED
    * depth by construction (they are served pages). Scale shape: one
    * shuffle keyed by query; the draft is a bounded in-memory loop
    * per group.
    */
  def teamDraftInterleave(a: DataFrame, b: DataFrame, queryCol: String,
      docCol: String, rankCol: String, depth: Int): DataFrame = {
    require(depth >= 1, s"depth must be >= 1, got $depth")
    val spark = a.sparkSession
    import spark.implicits._
    def side(df: DataFrame, tag: String) =
      df.select(col(queryCol).cast("long").as("q"),
        col(docCol).cast("long").as("doc"),
        col(rankCol).cast("long").as("rank"), lit(tag).as("team"))
        .as[(Long, Long, Long, String)]
    side(a, "A").unionAll(side(b, "B"))
      .groupByKey(_._1)
      .flatMapGroups { (q, it) =>
        val rows = it.toArray
        val la = rows.filter(_._4 == "A").sortBy(r => (r._3, r._2))
          .map(_._2)
        val lb = rows.filter(_._4 == "B").sortBy(r => (r._3, r._2))
          .map(_._2)
        val picked = scala.collection.mutable.LinkedHashMap
          .empty[Long, String]
        def draft(list: Array[Long], team: String): Boolean = {
          val next = list.find(d => !picked.contains(d))
          next.foreach(d => picked(d) = team)
          next.isDefined
        }
        var round = 1
        var progress = true
        while (picked.size < depth && progress) {
          val hex = java.security.MessageDigest.getInstance("MD5")
            .digest(s"$q|$round".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          val aFirst = Integer.parseInt(hex.substring(0, 1), 16) % 2 == 0
          val order = if (aFirst) Seq(("A", la), ("B", lb))
            else Seq(("B", lb), ("A", la))
          progress = false
          order.foreach { case (team, list) =>
            if (picked.size < depth && draft(list, team))
              progress = true
          }
          round += 1
        }
        picked.iterator.zipWithIndex.map { case ((doc, team), i) =>
          (q, (i + 1).toLong, doc, team)
        }
      }
      .toDF("query", "pos", "doc", "team")
  }

  /** Credit interleaved clicks to teams and call the per-query
    * winner: A / B / tie. `clicks`: (query, doc) the clicked
    * documents of the served interleaved list.
    */
  def interleaveWinner(interleaved: DataFrame,
      clicks: DataFrame): DataFrame = {
    interleaved
      .join(clicks.select(col("query"), col("doc"),
        lit(1L).as("clk")), Seq("query", "doc"), "left")
      .groupBy("query")
      .agg(sum(when(col("team") === "A", col("clk"))).as("a0"),
        sum(when(col("team") === "B", col("clk"))).as("b0"))
      .select(col("query"), coalesce(col("a0"), lit(0L)).as("credit_a"),
        coalesce(col("b0"), lit(0L)).as("credit_b"))
      .withColumn("winner",
        when(col("credit_a") > col("credit_b"), "A")
          .when(col("credit_b") > col("credit_a"), "B")
          .otherwise("tie"))
  }

  /** Position-bias (examination) curve from logged impressions under
    * the position-based model: P(click | rank) factorizes as
    * θ_rank · relevance, so the rank-1-normalized CTR curve
    * θ̂_r = CTR(r)/CTR(1) estimates examination propensities — the
    * denominator every counterfactual (IPS) evaluation needs. Naive
    * but standard as the first-cut estimator (result-randomized
    * logs); returns (rank, n, clicks, ctr, propensity).
    */
  def positionBias(logs: DataFrame, rankCol: String,
      clickCol: String): DataFrame = {
    val per = logs.groupBy(col(rankCol).cast("long").as("rank"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(clickCol), 1L).otherwise(0L)).as("clicks"))
      .withColumn("ctr", col("clicks").cast("double") / col("n"))
    val top = per.filter(col("rank") === 1)
      .select(col("ctr").as("ctr1"))
    per.crossJoin(broadcast(top))
      .select(col("rank"), col("n"), col("clicks"), col("ctr"),
        when(col("ctr1") > 0, col("ctr") / col("ctr1")).as("propensity"))
  }

  /** Inverse-propensity-scored (IPS) offline evaluation of a NEW
    * ranking against logged clicks (Joachims et al. 2017 shape):
    * each logged click is weighted by 1/θ(logged rank) and credited
    * when the new ranker would have shown that document at rank ≤ k
    * — the unbiased counterfactual answer to "would the new ranker
    * have earned these clicks", without an online test.
    * `logs`: (query, doc, rank, clicked); `newRanks`: (query, doc,
    * new_rank); `propensities`: (rank, propensity) from
    * [[positionBias]]. Returns one row (n_clicks, ips_value,
    * matched_clicks) — ips_value = Σ credited 1/θ divided by the
    * total click count (a rate, comparable across rankers).
    *
    * Scale shape: two hash equi-joins on (query, doc)/(rank), one
    * 1-row aggregate; the propensity table is rank-bounded.
    */
  def ipsValue(logs: DataFrame, newRanks: DataFrame,
      propensities: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val clicks = logs.filter(col("clicked"))
      .select(col("query"), col("doc"), col("rank"))
    clicks
      .join(broadcast(propensities.select(col("rank"),
        col("propensity"))), Seq("rank"), "left")
      .join(newRanks.select(col("query"), col("doc"),
        col("new_rank")), Seq("query", "doc"), "left")
      .agg(count(lit(1)).as("n_clicks"),
        sum(when(col("new_rank").isNotNull && col("new_rank") <= k &&
            col("propensity") > 0, lit(1.0) / col("propensity"))
          .otherwise(0.0)).as("ips_sum"),
        sum(when(col("new_rank").isNotNull && col("new_rank") <= k,
          1L).otherwise(0L)).as("matched_clicks"))
      .select(col("n_clicks"),
        (col("ips_sum") / col("n_clicks")).as("ips_value"),
        col("matched_clicks"))
  }

  /** Expected reciprocal rank (Chapelle et al. 2009) — the cascade-
    * model ranking metric: the user scans down, stops at a satisfying
    * result with probability R_r = (2^rel − 1)/2^maxGrade, and ERR =
    * Σ_r (R_r/r)·Π_{i<r}(1 − R_i). Unlike DCG it DISCOUNTS results
    * sitting below a likely-satisfying one — the metric of record
    * when one great answer is worth more than three good ones.
    * `df`: (query, rank 1-based, rel graded 0..maxGrade). In-contract
    * R is strictly < 1 (even rel = maxGrade gives (2^m−1)/2^m), so
    * ln(1−R) is always finite; the explicit preceding-saturation
    * count guards the OUT-of-contract rel > maxGrade case, which
    * would otherwise push ln(1−R) to NULL/NaN instead of the
    * correct "everything below a sure hit scores 0".
    *
    * Scale shape: one partitioned cumulative window over rank-bounded
    * ranking lists + one query aggregate.
    */
  def expectedReciprocalRank(df: DataFrame, queryCol: String,
      rankCol: String, relCol: String, maxGrade: Int): DataFrame = {
    require(maxGrade >= 1, s"maxGrade must be >= 1, got $maxGrade")
    val r = (pow(lit(2.0), col(relCol).cast("double")) - 1.0) /
      math.pow(2.0, maxGrade)
    val before = Window.partitionBy(col("query"))
      .orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(queryCol).as("query"),
        col(rankCol).cast("long").as("rank"), r.as("rr"))
      .withColumn("sat_before",
        coalesce(sum(when(col("rr") >= 1.0, 1L).otherwise(0L))
          .over(before), lit(0L)))
      .withColumn("log_surv",
        coalesce(sum(when(col("rr") < 1.0, log(lit(1.0) - col("rr")))
          .otherwise(lit(0.0))).over(before), lit(0.0)))
      .withColumn("term", when(col("sat_before") > 0, lit(0.0))
        .otherwise(col("rr") / col("rank") * exp(col("log_surv"))))
      .groupBy("query")
      .agg(count(lit(1)).as("n"), sum("term").as("err"))
  }

  /** Rank-biased precision (Moffat & Zobel 2008): RBP =
    * (1 − p)·Σ_r rel_r·p^(r−1) with persistence `p` — the
    * top-weighted precision whose weights never run out (unlike
    * P@k's cliff). Binary or graded-in-[0,1] relevance.
    */
  def rankBiasedPrecision(df: DataFrame, queryCol: String,
      rankCol: String, relCol: String, p: Double): DataFrame = {
    require(p > 0 && p < 1, s"persistence must be in (0,1), got $p")
    df.select(col(queryCol).as("query"),
        col(rankCol).cast("long").as("rank"),
        col(relCol).cast("double").as("rel"))
      .groupBy("query")
      .agg(count(lit(1)).as("n"),
        ((lit(1.0) - p) *
          sum(col("rel") * pow(lit(p), col("rank") - 1))).as("rbp"))
  }

  /** Unbiased pass@k (Chen et al. 2021, "Evaluating Large Language
    * Models Trained on Code", eq. 1) — THE sampled code-eval metric:
    * given n attempts per problem of which c passed,
    * pass@k = 1 − C(n−c, k)/C(n, k) = 1 − Π_{i<k} (n−c−i)/(n−i),
    * the probability that at least one of k randomly drawn attempts
    * passes. Exactly 1 when n−c < k (some term hits 0), NULL when
    * k > n (undefined — fewer attempts than the draw). Returns one
    * row per (problem, k) plus the corpus mean per k in a second
    * aggregate the caller can reuse.
    *
    * The product is evaluated as exp(Σ ln tᵢ) over an exploded
    * i-grid — problems × Σk rows, every term strictly positive on
    * that path — so both engines reduce the identical term list.
    *
    * Scale shape: one (problem) hash aggregate collapses the attempt
    * corpus; the k/i explosion multiplies the PROBLEM table only.
    */
  def passAtK(df: DataFrame, problemCol: String, correctCol: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "ks must be >= 1")
    val per = graft.core.PipelineCaches.persistTracked(
      df.groupBy(col(problemCol).as("problem"))
        .agg(count(lit(1)).as("n"),
          sum(when(col(correctCol), 1L).otherwise(0L)).as("c")))
    val grid = per.select(col("problem"), col("n"), col("c"),
      explode(lit(ks.distinct.sorted.toArray)).as("k"))
    val terms = grid
      .filter(col("k") <= col("n") && col("n") - col("c") >= col("k"))
      .select(col("problem"), col("k"), col("n"), col("c"),
        explode(sequence(lit(0), col("k") - 1)).as("i"))
      .select(col("problem"), col("k"),
        log((col("n") - col("c") - col("i")).cast("double") /
          (col("n") - col("i")).cast("double")).as("lt"))
      .groupBy("problem", "k")
      .agg((lit(1.0) - exp(sum("lt"))).as("p"))
    grid.join(terms, Seq("problem", "k"), "left")
      .select(col("problem"), col("k"), col("n"), col("c"),
        when(col("k") > col("n"), lit(null).cast("double"))
          .when(col("n") - col("c") < col("k"), lit(1.0))
          .otherwise(col("p")).as("pass_at_k"))
  }

  /** McNemar's test for PAIRED binary classifiers — the right way to
    * compare two models evaluated on the SAME items (a plain
    * two-proportion z-test ignores the pairing and overstates the
    * variance): only the discordant cells carry information,
    * n01 = A-right/B-wrong, n10 = A-wrong/B-right, and the
    * continuity-corrected statistic is χ²₁ = (|n01−n10|−1)²/(n01+n10)
    * (Edwards 1948). NULL when no discordant pairs exist — the models
    * are indistinguishable on this set by construction, not "χ² = 0".
    * Returns one row (n, n01, n10, chi2).
    *
    * Scale shape: one scan, one 4-counter aggregate.
    */
  def mcnemarTest(df: DataFrame, aCorrectCol: String,
      bCorrectCol: String): DataFrame = {
    val a = col(aCorrectCol).cast("boolean")
    val b = col(bCorrectCol).cast("boolean")
    df.agg(count(lit(1)).as("n"),
        sum(when(a && !b, 1L).otherwise(0L)).as("n01"),
        sum(when(!a && b, 1L).otherwise(0L)).as("n10"))
      .select(col("n"), col("n01"), col("n10"),
        when(col("n01") + col("n10") > 0,
          pow(abs(col("n01") - col("n10")) - lit(1.0), 2.0) /
            (col("n01") + col("n10")).cast("double")).as("chi2"))
  }

  /** Kruskal–Wallis rank test across k groups — the nonparametric
    * one-way ANOVA for skewed metrics (latency, doc length): midranks
    * with tie handling, H = 12/(N(N+1))·Σ R_g²/n_g − 3(N+1), and the
    * tie-corrected H/C with C = 1 − Σ(t³−t)/(N³−N). `h_adj` is NULL
    * when every value ties (C = 0). Returns one row (k, n, h, h_adj).
    *
    * Scale shape: the [[rocAuc]]/[[mannWhitney]] discipline — one
    * hash aggregate to the DISTINCT-value table, one vocab-sized
    * [[graft.functions.Ranks]] midrank prefix, one (group) aggregate.
    * The corpus is never sorted or windowed row-wise.
    */
  def kruskalWallis(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val byVal = df.select(col(valueCol).as("s"), col(groupCol).as("g"))
      .groupBy("s").agg(count(lit(1)).as("n"))
    val ranks = Ranks.prefixSums(byVal, Seq(col("s")),
        Seq(col("n") -> "b"), inclusive = false)
      .withColumn("midrank", col("b") + (col("n") + 1) / 2.0)
    val perGv = df.select(col(valueCol).as("s"), col(groupCol).as("g"))
      .groupBy("g", "s").agg(count(lit(1)).as("gn"))
    val perG = perGv.join(ranks.select("s", "midrank"), "s")
      .groupBy("g")
      .agg(sum("gn").as("ng"), sum(col("gn") * col("midrank")).as("rg"))
    val ties = byVal.agg(sum("n").as("nt"),
      sum(col("n") * col("n") * col("n") - col("n")).as("tsum"))
    perG.agg(count(lit(1)).as("k"),
        sum(col("rg") * col("rg") / col("ng")).as("rr"))
      .crossJoin(broadcast(ties))
      .select(col("k"), col("nt").as("n"),
        (lit(12.0) / (col("nt").cast("double") * (col("nt") + 1)) *
          col("rr") - lit(3.0) * (col("nt") + 1)).as("h"),
        (lit(1.0) - col("tsum").cast("double") /
          (col("nt").cast("double") * col("nt") * col("nt") - col("nt")))
          .as("c"))
      .select(col("k"), col("n"), col("h"),
        when(col("c") > 0, col("h") / col("c")).as("h_adj"))
  }

  /** Brown–Forsythe variance-homogeneity test — the robust Levene
    * variant (median-centered) run BEFORE trusting an [[anovaF]] or a
    * pooled-variance t: z_ij = |x_ij − med_g| with med_g the LOWER
    * MEDIAN (discrete order statistic k = ⌈n_g/2⌉ — replays
    * bit-exactly, never an interpolated percentile), then the one-way
    * F on the z values. Returns one row (k, n, f); f is NULL for
    * degenerate inputs (k < 2 or zero within-group spread).
    *
    * Scale shape: one (group, value) hash aggregate, per-group
    * cumulative window over the DISTINCT-value table for the median,
    * one broadcast join back, one moments aggregate — the
    * [[graft.ml.Profile.quantileNormalize]] order-statistic pattern.
    */
  def brownForsythe(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val vals = df.select(col(valueCol).cast("double").as("x"),
      col(groupCol).as("g"))
    val byGv = vals.groupBy("g", "x").agg(count(lit(1)).as("c"))
    val wg = Window.partitionBy("g").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, 0)
    val withCum = byGv.withColumn("cum", sum("c").over(wg))
      .withColumn("ng", sum("c").over(Window.partitionBy("g")))
    val med = withCum
      .filter(col("cum") >= ceil(col("ng") / 2) &&
        col("cum") - col("c") < ceil(col("ng") / 2))
      .select(col("g"), col("x").as("med"))
    val z = vals.join(broadcast(med), "g")
      .select(col("g"), abs(col("x") - col("med")).as("z"))
    val per = z.groupBy("g").agg(count(lit(1)).as("ng"),
      sum("z").as("sg"), sum(col("z") * col("z")).as("qg"))
    per.agg(count(lit(1)).as("k"), sum("ng").as("n"),
        sum(col("sg") * col("sg") / col("ng")).as("gs"),
        sum("sg").as("s"), sum("qg").as("q"))
      .select(col("k"), col("n").cast("long").as("n"),
        when(col("k") > 1 && col("n") > col("k") && col("q") - col("gs") > 0,
          ((col("gs") - col("s") * col("s") / col("n")) / (col("k") - 1)) /
            ((col("q") - col("gs")) / (col("n") - col("k")))).as("f"))
  }

  /** Risk–coverage curve + AURC for selective prediction — the
    * abstention read behind "answer only when confident" gating of a
    * generator or quality model: sweep confidence thresholds from the
    * top, coverage = fraction kept, risk = error rate among the kept.
    * Tie-coherent by construction: each threshold step admits ALL
    * items at that confidence (rank-interpolated AURC variants split
    * ties by arbitrary row order and never replay across engines);
    * AURC = Σ_steps (step_n/N)·risk(prefix) — the step-weighted mean
    * of prefix risks. Returns the curve (confidence, n, coverage,
    * risk) with `aurc` repeated on every row.
    *
    * Scale shape: one hash aggregate to the DISTINCT-confidence
    * table, both cumulative sums over that vocab table in one
    * [[graft.functions.Ranks]] prefix, one broadcast total.
    */
  def riskCoverage(df: DataFrame, confCol: String,
      correctCol: String): DataFrame = {
    val byConf = df.select(col(confCol).as("confidence"),
        col(correctCol).cast("boolean").as("ok"))
      .groupBy("confidence")
      .agg(count(lit(1)).as("n"),
        sum(when(!col("ok"), 1L).otherwise(0L)).as("err"))
    val curve = Ranks.prefixSums(byConf, Seq(col("confidence").desc),
      Seq(col("n") -> "cn", col("err") -> "cerr"), inclusive = true)
    val tot = curve.agg(max("cn").as("nt"),
      sum(col("n").cast("double") * col("cerr") / col("cn")).as("wr"))
    curve.crossJoin(broadcast(tot))
      .select(col("confidence"), col("n"),
        (col("cn").cast("double") / col("nt")).as("coverage"),
        (col("cerr").cast("double") / col("cn")).as("risk"),
        (col("wr") / col("nt")).as("aurc"))
  }
  /** Cumulative gains / lift table over tie-coherent score deciles —
    * the model-targeting read ("the top 20% of scores capture X% of
    * the positives") behind every quality-gate budget decision.
    * Buckets are 1 + ⌊cum_before·k/N⌋ over the DISTINCT-score
    * cumulative table in DESCENDING score order (ntile splits ties by
    * arbitrary row order and never replays across engines — the
    * rfmSegments discipline). Returns per bucket (bucket, n, positives,
    * cum_gain = cumulative positive share, lift = bucket rate over
    * base rate); lift is NULL when the corpus has no positives.
    *
    * Scale shape: one hash aggregate to the distinct-score table, one
    * [[graft.functions.Ranks]] prefix with grand totals over that
    * table, one bucket aggregate.
    */
  def gainsTable(df: DataFrame, scoreCol: String, labelCol: String,
      k: Int = 10): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val byScore = df.select(col(scoreCol).as("s"),
        col(labelCol).cast("int").as("y"))
      .groupBy("s").agg(count(lit(1)).as("n"), sum("y").as("p"))
    val bucketed = Ranks.prefixSums(byScore, Seq(col("s").desc),
        Seq(col("n") -> "before", col("p") -> "__gains_pp"),
        inclusive = false, totalsAs = Seq("nt", "pt"))
      .drop("__gains_pp")
      .withColumn("bucket",
        (lit(1) + floor(col("before") * k / col("nt"))).cast("long"))
    val perBucket = bucketed.groupBy("bucket")
      .agg(sum("n").as("n"), sum("p").as("positives"),
        first("nt").as("nt"), first("pt").as("pt"))
    val wb = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    perBucket
      .withColumn("cum_p", sum("positives").over(wb))
      .select(col("bucket"), col("n"), col("positives"),
        when(col("pt") > 0, col("cum_p").cast("double") / col("pt"))
          .as("cum_gain"),
        when(col("pt") > 0,
          (col("positives").cast("double") / col("n")) /
            (col("pt").cast("double") / col("nt"))).as("lift"))
  }

  /** Cohen's d + Hedges' g standardized mean difference between
    * EXACTLY two groups — the effect size every significant A/B
    * needs next to its p-value (a tiny d with a huge n is noise you
    * can ship past a z-test). Pooled SAMPLE variances; Hedges' g
    * applies the small-sample correction J = 1 − 3/(4(n₁+n₂)−9).
    * Returns one row (g1, g2, k, n1, n2, mean1, mean2, d, hedges_g)
    * where g1 is the lexically smaller group and k the OBSERVED
    * group count — d/hedges_g are NULL unless k = 2, either group
    * has ≥ 2 rows, and the pooled variance is positive (the caller
    * reads k to distinguish contract violation from degeneracy).
    *
    * Scale shape: one (group) moments aggregate; everything after is
    * a 2-row pivot.
    */
  def cohensD(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val per = df.groupBy(col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("double")).as("s"),
        sum(col(valueCol).cast("double") * col(valueCol)).as("q"))
    val wide = per
      .withColumn("g1", min("g").over(Window.partitionBy()))
      .withColumn("k", count(lit(1)).over(Window.partitionBy()))
      .groupBy("g1", "k")
      .agg(
        max(when(col("g") === col("g1"), col("n"))).as("n1"),
        max(when(col("g") === col("g1"), col("s"))).as("s1"),
        max(when(col("g") === col("g1"), col("q"))).as("q1"),
        // only meaningful with EXACTLY one other group: independent
        // max() over several groups would pair g2 with another
        // group's moments — null the whole non-control side instead
        max(when(col("k") === 2 && col("g") =!= col("g1"), col("g")))
          .as("g2"),
        max(when(col("k") === 2 && col("g") =!= col("g1"), col("n")))
          .as("n2"),
        max(when(col("k") === 2 && col("g") =!= col("g1"), col("s")))
          .as("s2"),
        max(when(col("k") === 2 && col("g") =!= col("g1"), col("q")))
          .as("q2"))
    wide
      .select(col("g1"), col("g2"), col("k"), col("n1"), col("n2"),
        (col("s1") / col("n1")).as("mean1"),
        (col("s2") / col("n2")).as("mean2"),
        ((col("q1") - col("s1") * col("s1") / col("n1")) +
          (col("q2") - col("s2") * col("s2") / col("n2"))).as("ssw"))
      .select(col("g1"), col("g2"), col("k"), col("n1"), col("n2"),
        col("mean1"), col("mean2"),
        when(col("k") === 2 && col("n1") >= 2 && col("n2") >= 2 &&
            col("ssw") > 0,
          (col("mean1") - col("mean2")) /
            sqrt(col("ssw") / (col("n1") + col("n2") - 2))).as("d"))
      .select(col("g1"), col("g2"), col("k"), col("n1"), col("n2"),
        col("mean1"), col("mean2"), col("d"),
        (col("d") * (lit(1.0) - lit(3.0) /
          (lit(4.0) * (col("n1") + col("n2")) - 9))).as("hedges_g"))
  }
  /** Qini / uplift curve over tie-coherent score deciles — does the
    * uplift model actually RANK persuadable units first: sweep the
    * score from the top, and at each prefix compare treated
    * conversions against the control conversions SCALED to the
    * treated exposure, qini = conv_t − conv_c·n_t/n_c. A targeting
    * score no better than random tracks the diagonal; the curve's
    * lift above it is the model's value. Same tie-coherent bucket
    * construction as [[gainsTable]] (never ntile). Returns per
    * bucket (bucket, n_t, n_c, conv_t, conv_c, qini,
    * qini_random) where qini_random is the diagonal at the prefix's
    * total-population share; NULL qini where the prefix has no
    * controls yet.
    *
    * Scale shape: one (score) hash aggregate with per-arm counters,
    * one [[graft.functions.Ranks]] prefix with its total over the
    * distinct-score table, one bucket aggregate, k-row bucket windows.
    */
  def qiniCurve(df: DataFrame, scoreCol: String, treatedCol: String,
      outcomeCol: String, k: Int = 10): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val t = col(treatedCol).cast("boolean")
    val y = col(outcomeCol).cast("int")
    val byScore = df.select(col(scoreCol).as("s"), t.as("t"), y.as("y"))
      .groupBy("s")
      .agg(count(lit(1)).as("n"),
        sum(when(col("t"), 1L).otherwise(0L)).as("nt"),
        sum(when(col("t"), col("y")).otherwise(0)).as("ct"),
        sum(when(!col("t"), col("y")).otherwise(0)).as("cc"))
    val bucketed = Ranks.prefixSums(byScore, Seq(col("s").desc),
        Seq(col("n") -> "before"), inclusive = false, totalsAs = Seq("tot"))
      .withColumn("bucket",
        (lit(1) + floor(col("before") * k / col("tot"))).cast("long"))
    val perBucket = bucketed.groupBy("bucket")
      .agg(sum("n").as("n"), sum("nt").as("n_t"),
        (sum("n") - sum("nt")).as("n_c"),
        sum("ct").as("conv_t"), sum("cc").as("conv_c"),
        first("tot").as("tot"))
    val wb = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    val totals = Window.partitionBy()
    perBucket
      .withColumn("cnt", sum("n_t").over(wb))
      .withColumn("cnc", sum("n_c").over(wb))
      .withColumn("cct", sum("conv_t").over(wb))
      .withColumn("ccc", sum("conv_c").over(wb))
      .withColumn("cn", sum("n").over(wb))
      .withColumn("qini_total",
        when(sum("n_c").over(totals) > 0,
          sum("conv_t").over(totals) -
            sum("conv_c").over(totals) *
              sum("n_t").over(totals).cast("double") /
              sum("n_c").over(totals)))
      .select(col("bucket"), col("n_t"), col("n_c"), col("conv_t"),
        col("conv_c"),
        when(col("cnc") > 0, col("cct") -
          col("ccc") * col("cnt").cast("double") / col("cnc"))
          .as("qini"),
        (col("qini_total") * col("cn").cast("double") / col("tot"))
          .as("qini_random"))
  }

  /** Exposure-fairness audit of a ranking (Singh & Joachims 2018
    * flavor): per group, the position-discounted exposure
    * Σ 1/log₂(rank+1) over top-`k` slots across queries, its share
    * of total exposure, the group's share of ranked items, and the
    * disparity ratio exposure_share/item_share — a ranker can be
    * accurate AND starve a group of exposure; this is the audit that
    * catches it (the ranking-side complement of [[fairnessReport]]).
    * Returns per group (group, n_items, n_in_topk, exposure,
    * exposure_share, item_share, disparity).
    *
    * Scale shape: one conditional aggregate over the ranked rows +
    * a 1-row total broadcast.
    */
  def exposureReport(df: DataFrame, rankCol: String, groupCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val r = col(rankCol).cast("double")
    val per = df.groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col(rankCol) <= k, 1L).otherwise(0L)).as("n_in_topk"),
        coalesce(sum(when(col(rankCol) <= k,
          lit(1.0) / log2(r + 1.0))), lit(0.0)).as("exposure"))
    val tot = per.agg(sum("n_items").as("ti"), sum("exposure").as("te"))
    per.crossJoin(broadcast(tot))
      .select(col("group"), col("n_items"), col("n_in_topk"),
        col("exposure"),
        when(col("te") > 0, col("exposure") / col("te"))
          .as("exposure_share"),
        (col("n_items").cast("double") / col("ti")).as("item_share"),
        when(col("te") > 0, (col("exposure") / col("te")) /
          (col("n_items").cast("double") / col("ti"))).as("disparity"))
  }
  /** Replay (rejection-sampling) off-policy evaluation of a bandit
    * policy over uniformly-logged data (Li et al. 2011): keep exactly
    * the logged rounds where the candidate policy would have chosen
    * the SAME arm, and average their observed rewards — an unbiased
    * estimate of the policy's online value without deploying it.
    * Requires uniform logging (documented; for non-uniform logs use
    * [[ipsValue]]'s propensity weighting). Returns one row
    * (n_logged, n_matched, match_rate, value) plus per-arm match
    * diagnostics via [[banditReplayByArm]]; value is NULL when no
    * rounds match.
    *
    * Scale shape: one scan, one conditional aggregate.
    */
  def banditReplay(logs: DataFrame, loggedArmCol: String,
      policyArmCol: String, rewardCol: String): DataFrame = {
    val m = col(loggedArmCol) === col(policyArmCol)
    logs.agg(count(lit(1)).as("n_logged"),
        sum(when(m, 1L).otherwise(0L)).as("n_matched"),
        avg(when(m, col(rewardCol).cast("double"))).as("value"))
      .select(col("n_logged"), col("n_matched"),
        (col("n_matched").cast("double") / col("n_logged"))
          .as("match_rate"), col("value"))
  }

  /** Per-arm companion of [[banditReplay]]: how many logged rounds
    * each policy-chosen arm kept and the arm's replay value — the
    * diagnostic that catches a "great" overall value carried by one
    * over-represented arm. Returns per arm (arm, n_policy, n_matched,
    * value).
    */
  def banditReplayByArm(logs: DataFrame, loggedArmCol: String,
      policyArmCol: String, rewardCol: String): DataFrame = {
    val m = col(loggedArmCol) === col(policyArmCol)
    logs.groupBy(col(policyArmCol).as("arm"))
      .agg(count(lit(1)).as("n_policy"),
        sum(when(m, 1L).otherwise(0L)).as("n_matched"),
        avg(when(m, col(rewardCol).cast("double"))).as("value"))
  }
}
