package graft

import graft.tools.PlanLint

/** Systematic scale lint over EVERY registered gate query: any
  * cartesian-family join or unpartitioned window in a physical plan
  * must be explicitly whitelisted with a justification. The hand
  * audits in PlanAuditSpec prove chosen queries have the RIGHT plan;
  * this spec proves no query quietly has a WRONG one — the class of
  * regression that passes all value-correctness tests and then dies
  * at 100 TB.
  */
class PlanLintSpec extends SparkSpec {

  /** query -> rules allowed there, each with the reason the shape is
    * correct by construction (bounded side / tiny input / contract
    * evaluator rather than the operator under test).
    */
  private val allowed: Map[String, Map[String, String]] = Map(
    "q_cross_tiny" -> Map("cartesian" ->
      "crossWithTiny IS a cartesian against a broadcast 5-row dim"),
    "q_combinations" -> Map("cartesian" ->
      "distributive C(n,k) generator over tiny literal ranges"),
    "q_weighted_sum" -> Map("cartesian" ->
      "knapsack enumeration over tiny literal ranges"),
    "q_normalize" -> Map("cartesian" ->
      "1-row global-total aggregate broadcast back onto the stream"),
    "q_trap" -> Map("cartesian" ->
      "two 1-row count aggregates cross-joined into the report row"),
    "q_matrix_gram_dimsum" -> Map("cartesian" ->
      "1-row norm/threshold scalar broadcast onto the sampled matrix"),
    "q_dedup_semantic" -> Map("cartesian" ->
      "exact all-pairs CONTRACT evaluation; the operator itself joins on centroid"),
    "q_corpus_mix_temperature" -> Map("cartesian" ->
      "1-row mass-total aggregate broadcast onto the per-domain rate table"),
    "q_text_unigram_nll" -> Map("cartesian" ->
      "1-row (N, V) model-total aggregate broadcast onto the token stream"),
    "q_text_tfidf" -> Map("cartesian" ->
      "1-row corpus-count aggregate broadcast onto the term-frequency stream"),
    "q_text_bigram_nll" -> Map("cartesian" ->
      "1-row vocabulary-size aggregate broadcast onto the bigram stream"),
    "q_text_bm25" -> Map("cartesian" ->
      "1-row corpus-stats (N, avgdl) aggregate broadcast onto the hit stream"),
    "q_text_dsir" -> Map("cartesian" ->
      "1-row (Nr, Nt, V) model-totals aggregate broadcast onto the token stream"),
    "q_quality_expectations" -> Map("cartesian" ->
      "1-row n_checked × 1-row n_failed aggregates in the referential rule"),
    "q_corpus_train_order" -> Map("cartesian" ->
      ("shard-offset triangle join over the 16^prefixLen-row (≤4096) " +
        "shard-size aggregate — both sides bounded, corpus never joins")),
    "q_corpus_triplets" -> Map("cartesian" ->
      ("orderForTraining's bounded shard-offset triangle join (same " +
        "shape q_corpus_train_order excuses)")),
    "q_profile_drift" -> Map("cartesian" ->
      ("1-row grand-total aggregate broadcast onto the |cuts|+1-row " +
        "bucket-count table; both corpus scans reduce before the join")),
    "q_text_bm25_index" -> Map("cartesian" ->
      "1-row (n_docs, sum_dl) stats table broadcast onto the pruned postings"),
    "q_text_collocations" -> Map("cartesian" ->
      "1-row token-total aggregate broadcast onto the bigram-count table"),
    "q_events_abtest" -> Map("cartesian" ->
      "1-row control-arm aggregate broadcast onto the treatment arms"),
    "q_events_cuped" -> Map("cartesian" ->
      "1-row pooled (cov, var, mean) aggregate broadcast onto user rows"),
    "q_events_survival" -> Map("cartesian" ->
      "1-row observation-horizon aggregate broadcast onto user lifetimes"),
    "q_events_did" -> Map("cartesian" ->
      "1-row control-arm (pre, post) means broadcast onto treatment arms"),
    "q_text_hybrid" -> Map("cartesian" ->
      "1-row corpus-stats (N, avgdl) aggregate broadcast onto the BM25 hit stream"),
    "q_events_sequential" -> Map("cartesian" ->
      "dense (arms x periods) grid — both sides driver-bounded (arm list x time-range/periodSec)"),
    "q_eval_bleu" -> Map("cartesian" ->
      "1-row per-order precision pivot × 1-row corpus-lengths aggregate"),
    "q_events_growth" -> Map("cartesian" ->
      "1-row max-period horizon aggregate broadcast onto the churn rows"),
    "q_events_power" -> Map("cartesian" ->
      "1-row control-arm aggregate broadcast onto the treatment arms"),
    "q_profile_join_card" -> Map("cartesian" ->
      "1-row pair-total aggregate broadcast onto the per-key count table"),
    "q_text_kn_nll" -> Map("cartesian" ->
      "1-row bigram-type-total aggregate broadcast onto the bigram stream"),
    "q_privacy_tcloseness" -> Map("cartesian" ->
      "1-row global-total aggregate broadcast onto the sensitive-domain frequency table"),
    "q_text_platt" -> Map("cartesian" ->
      "1-row (a, b) trained-parameter state broadcast onto the scoring scan"),
    "q_text_js_divergence" -> Map("cartesian" ->
      "1-row corpus-token-total aggregate broadcast onto the word-count join"),
    "q_eval_kappa" -> Map("cartesian" ->
      "1-row totals × 1-row chance-agreement aggregates into the report row"),
    "q_eval_fleiss" -> Map("cartesian" ->
      "1-row P-bar × 1-row Pe-bar aggregates into the report row"),
    "q_eval_weighted_kappa" -> Map("cartesian" ->
      ("K-level contingency/marginal grids (K ≤ tens) × the 1-row " +
        "(K, n) aggregate; the corpus reduces before every join")),
    "q_eval_krippendorff" -> Map("cartesian" ->
      "1-row observed × 1-row expected disagreement aggregates"),
    "q_eval_chi2" -> Map("cartesian" ->
      "1-row (n, R, C) totals broadcast onto the R×C contingency cells"),
    "q_eval_rbo" -> Map("cartesian" ->
      "bounded probe batch broadcast onto the corpus scan (the ANN contract)"),
    "q_text_good_turing" -> Map("cartesian" ->
      ("1-row LGT regression fit, then the 1-row renormalizer, broadcast " +
        "onto the vocabulary table")),
    "q_text_dispersion" -> Map("cartesian" ->
      "1-row corpus-total broadcast onto the dashboard-sized stratum table"),
    "q_text_ppmi" -> Map("cartesian" ->
      "1-row pair-total aggregate broadcast onto the pair-count table"),
    "q_text_keyness" -> Map("cartesian" ->
      "1-row corpus-total aggregate broadcast onto the (stratum, word) counts"),
    "q_text_vocab_overlap" -> Map("cartesian" ->
      "strata × strata size grid — both sides dashboard-sized aggregates"),
    "q_assoc_pairs" -> Map("cartesian" ->
      "1-row basket-total aggregate broadcast onto the pair-count table"),
    "q_eval_brier" -> Map("cartesian" ->
      "1-row global-mean aggregate broadcast onto the |cuts|+1-row bin table"),
    "q_profile_benford" -> Map("cartesian" ->
      "1-row total aggregate broadcast onto the 9-row digit table"),
    "q_events_rfm" -> Map("cartesian" ->
      "1-row as-of + 1-row quantile-cut aggregates broadcast onto user rows"),
    // global windows: each of these is an ordered prefix sum over the
    // DISTINCT-VALUE table of a score/count column (the midrank /
    // count-of-counts kernel), never over the corpus — the one task
    // holds |distinct scores| rows (thousands for rounded model
    // scores), the same bounded-vocabulary tradeoff heavyHitters
    // documents. The corpus itself reduces in a hash aggregate first.
    "q_eval_auc" -> Map("global-window" ->
      "midrank running sum over the distinct-score table"),
    "q_eval_pr" -> Map("global-window" ->
      "cumulative precision/recall over the distinct-score table"),
    "q_eval_mannwhitney" -> Map("global-window" ->
      "midrank running sum over the distinct-score table"),
    "q_profile_spearman" -> Map("global-window" ->
      "midrank running sums over the two distinct-value tables"),
    "q_text_zipf" -> Map("global-window" ->
      "frequency ranking over the vocabulary table"),
    "q_profile_gini" -> Map("global-window" ->
      "grouped-Gini running sum over the distinct-value table"),
    "q_events_concurrency" -> Map("global-window" ->
      "sweep prefix sum over the distinct boundary-second table"),
    "q_profile_mass" -> Map(
      "global-window" ->
        "descending cumulative sums over the distinct-value table",
      "cartesian" ->
        "1-row total + literal fraction grid broadcast onto the cumulative table"),
    "q_eval_bootstrap" -> Map(
      "global-window" ->
        "rank pass over the b(=200)-row replicate-mean table",
      "cartesian" ->
        "1-row sample stats × 1-row lo × 1-row hi quantile picks"),
    "q_text_langid_textcat" -> Map("cartesian" ->
      ("distinct-language table (|langs| rows, broadcast) crossed onto " +
        "per-doc top-20 gram rows — every doc scores every profile")),
    "q_text_target_encode" -> Map("cartesian" ->
      "1-row global-prior aggregate broadcast onto the scan (twice)"),
    "q_events_seasonal" -> Map(
      "global-window" ->
        "±12-bucket trend window over the (time-range/3600)-row bucket-count table",
      "cartesian" ->
        "1-row seasonal-center aggregate broadcast onto the bucket table"),
    "q_eval_bh_fdr" -> Map("global-window" ->
      ("rank/min windows over the hypothesis table (one row per test — " +
        "panel-sized by contract, corpus reductions happen upstream)")),
    "q_eval_kruskal" -> Map(
      "global-window" ->
        ("midrank running sum over the distinct-value table (0.1-" +
          "quantized, the mannWhitney vocab-window shape)"),
      "cartesian" ->
        "1-row tie-term aggregate broadcast onto the 1-row H aggregate"),
    "q_eval_risk_coverage" -> Map(
      "global-window" ->
        ("descending cumulative kept/error sums over the DISTINCT-" +
          "confidence table — threshold-sweep grain, never the corpus"),
      "cartesian" ->
        "1-row (N, weighted-risk) aggregate broadcast onto the curve"),
    "q_events_stickiness" -> Map(
      "global-window" ->
        ("+1/-1 boundary sweep over the zero-filled day-grid " +
          "aggregate — time-range/86400 rows, the pageHinkley shape"),
      "cartesian" ->
        "1-row max-observed-day aggregate broadcast to clip the grid"),
    "q_events_markov_entropy" -> Map("cartesian" ->
      ("1-row totals + 1-row transition-entropy aggregates broadcast " +
        "onto the |types|-row state table")),
    "q_text_xent" -> Map("cartesian" ->
      ("strata-totals x strata-totals x 1-row vocab grid (|strata|^2 " +
        "rows); the corpus reduced to counts upstream")),
    "q_events_delta_ratio" -> Map("cartesian" ->
      "1-row control (ratio, se) aggregate broadcast onto the variant table"),
    "q_eval_exposure" -> Map("cartesian" ->
      "1-row (total items, total exposure) aggregate broadcast onto the group table"),
    "q_eval_qini" -> Map("global-window" ->
      ("decile assignment + cumulative per-arm sums over the DISTINCT-" +
        "score table (the gainsTable shape)")),
    "q_events_psm" -> Map("cartesian" ->
      "1-row (ATT, n_treated, n_matched) aggregate broadcast onto the match table"),
    "q_eval_cohens_d" -> Map("global-window" ->
      ("min/count window over the 2-row per-group moments aggregate — " +
        "group-count sized, never the corpus")),
    "q_eval_gains" -> Map("global-window" ->
      ("decile assignment + cumulative windows over the DISTINCT-score " +
        "table (the rfm_exactq tie-coherent bucket shape)")),
    "q_eval_self_bleu" -> Map("cartesian" ->
      ("closest-length reference pick: sampleK x (sampleK-1) length " +
        "grid (<=100x99 by the bounded-sample contract)")),
    "q_events_hellinger" -> Map("cartesian" ->
      "1-row grand-total aggregate broadcast onto the bucket join"),
    "q_events_page_hinkley" -> Map("global-window" ->
      ("cumulative mean/deviation/min windows over the zero-filled " +
        "(time-range/periodSec)-row bucket aggregate — the seasonal/" +
        "mannKendall bucket-table contract")),
    "q_events_rfm_exactq" -> Map("global-window" ->
      ("cumulative windows over per-dimension distinct-VALUE count " +
        "tables (the rocAuc midrank shape), never the user table")),
    "q_text_quantile_norm" -> Map(
      "global-window" ->
        "cumulative window over the pooled distinct-VALUE count table",
      "cartesian" ->
        "1-row corpus-count aggregate broadcast onto both sides"),
    "q_events_woe" -> Map("cartesian" ->
      "1-row good/bad totals broadcast onto the category table"),
    // q_text_heaps' former global-window entry retired in round 11:
    // checkpoint thresholds now come from Ranks.distributedRank's
    // two-pass order statistics — no window at all in the plan.
    "q_text_heaps" -> Map("cartesian" ->
      ("10-row checkpoint-threshold and 1-row fit tables broadcast " +
        "onto the aggregates")),
    "q_text_burrows" -> Map(
      "global-window" ->
        "top-M rank over the distinct-WORD aggregate",
      "cartesian" ->
        "top-50 word × |strata| grid build (panel-sized broadcasts)"),
    "q_text_token_mi" -> Map("cartesian" ->
      ("token×label grid: |labels|-row + 1-row broadcast crosses onto " +
        "the token table (absent cells must exist to contribute)")),
    "q_events_acf" -> Map(
      "cartesian" ->
        ("1-row (n, mean) / denominator aggregates broadcast onto the " +
          "bucket grid; the lag-pair range join is bucket-grid × " +
          "bucket-grid, both sides time-range/periodSec-bounded"),
      "global-window" ->
        "cumulative Ljung–Box window over the maxLag-row per-lag aggregate"),
    // q_events_mann_kendall entries removed in r12: the pair self-
    // join (cartesian) and the slope-median window are gone — the
    // statistics now come from the single-row inversion-count kernel
    "q_events_poststrat_ate" -> Map("cartesian" ->
      ("1-row used-stratum total and pooled (ate, se) aggregates " +
        "broadcast onto the stratum grid")),
    "q_eval_cronbach" -> Map("cartesian" ->
      ("1-row k (distinct-item count) and 1-row Σitem-variance " +
        "aggregates broadcast onto the subject/report rows")),
    "q_events_anomaly" -> Map(
      "global-window" ->
        ("seasonalDecompose's ±12-bucket trend window over the " +
          "(time-range/3600)-row bucket-count table"),
      "cartesian" ->
        ("1-row seasonal-center and 1-row residual-sigma aggregates " +
          "broadcast onto the bucket grid")),
    "q_text_qld" -> Map("cartesian" ->
      ("|terms|-row query grid and 1-row collection-total aggregate " +
        "broadcast onto the CANDIDATE table (absent terms must " +
        "contribute smoothing mass)")),
    "q_eval_position_bias" -> Map("cartesian" ->
      "1-row rank-1 CTR aggregate broadcast onto the rank-bounded curve"),
    "q_eval_ips" -> Map("cartesian" ->
      ("positionBias's 1-row rank-1 CTR aggregate broadcast onto the " +
        "rank-bounded propensity table")),
    "q_assoc_item_cosine" -> Map("cartesian" ->
      "frequentPairs' 1-row basket-total aggregate broadcast onto the pair table"),
    "q_embed_mmd" -> Map("cartesian" ->
      ("all-pairs kernel grid on the BOUNDED samples (documented " +
        "sample contract) + 1-row kernel-mean aggregates into the report")),
    "q_eval_fairness" -> Map("cartesian" ->
      "1-row gap aggregate broadcast onto the group-rate grid"),
    "q_events_forecast_acc" -> Map(
      "global-window" ->
        ("seasonalDecompose's ±12-bucket trend window over the " +
          "(time-range/3600)-row bucket-count table"),
      "cartesian" ->
        "1-row seasonal-center aggregate broadcast onto the bucket grid"),
    "q_text_skipgram" -> Map("cartesian" ->
      ("1-row token-total aggregate broadcast onto the vocab-sized " +
        "frequency table (the subsampling rates)")),
    "q_text_negsample" -> Map("cartesian" ->
      "1-row normalizer aggregate broadcast onto the vocabulary table"),
    "q_events_srm" -> Map("cartesian" ->
      ("1-row total and 1-row chi2/df aggregates broadcast onto the " +
        "arm grid")),
    "q_profile_mi" -> Map("cartesian" ->
      ("1-row total-count aggregate broadcast onto the joint/marginal " +
        "count tables, then 1-row entropy aggregates cross-joined " +
        "into the single output row")))
  // q_multimodal_tar's former cartesian entry dropped in round 8: the
  // gate now collects its 1-row summary eagerly (so the shard temp dir
  // can be deleted) and returns a parallelized literal — no join plan.

  test("every cartesian/global-window in any gate plan is whitelisted") {
    val dir = sf("sf0.001")
    val hits = scala.collection.mutable.Map.empty[String, Set[String]]
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val findings = PlanLint.lint(fn(spark, dir))
        if (findings.nonEmpty)
          hits(name) = findings.map(_.rule).toSet
        findings.filterNot(f =>
          allowed.get(name).exists(_.contains(f.rule)))
          .map(f => s"$name: ${f.rule} (${f.node})")
    }
    graft.core.PipelineCaches.unpersistAll()
    graft.core.PipelineCaches.unpersistAll()
    assert(violations.isEmpty,
      s"unwhitelisted scale smells:\n  ${violations.mkString("\n  ")}")
    // the whitelist may not go stale: every entry must still be
    // exercised by the plan it excuses
    val stale = allowed.flatMap { case (name, rules) =>
      rules.keys.filterNot(r => hits.getOrElse(name, Set.empty).contains(r))
        .map(r => s"$name/$r")
    }
    assert(stale.isEmpty, s"stale whitelist entries: ${stale.mkString(", ")}")
    // global windows are allowed ONLY via the whitelist above, and
    // only for the distinct-value prefix-sum kernel (midranks,
    // count-of-counts, vocabulary ranks). PlanLint enforces the
    // structure: an unpartitioned window fed by NON-aggregated input
    // lints as `global-window-raw`, which no entry may whitelist —
    // so a corpus-sized single-task window can never sneak in under
    // a stale justification.
    val raw = hits.collect {
      case (name, rules) if rules.contains("global-window-raw") => name
    }
    assert(raw.isEmpty,
      s"raw-input global windows (corpus to one task): ${raw.mkString(", ")}")
  }

  test("bigDomain eval paths carry NO window operator at all " +
      "(the open-distinct-domain escape hatch is window-free)") {
    import graft.ml.Eval
    import org.apache.spark.sql.functions.{col, lit}
    val scored = spark.range(0, 5000).select(col("id"),
      ((col("id") * 2654435761L) % 9973L).cast("double")
        ./(lit(9973.0)).as("score"),
      (col("id") % 3 === 0).cast("int").as("label"),
      (col("id") % 2 === 0).as("treated"))
    def windowless(df: org.apache.spark.sql.DataFrame,
        allowBounded: Boolean = false): Unit = {
      df.collect() // materialize so the executed plan is final
      val windows = graft.tools.PlanLint
        .nodes(df.queryExecution.executedPlan)
        .collect { case w: org.apache.spark.sql.execution.window
          .WindowExec => w }
      if (allowBounded)
        // gains/qini keep their k-row BUCKET windows — but none may
        // be fed by the distinct-score table (its marker column)
        assert(windows.forall(!_.child.output.exists(
            _.name == "before")),
          s"distinct-score window survived: $windows")
      else assert(windows.isEmpty, s"unexpected windows: $windows")
    }
    def twoPass[T](body: => T): T =
      graft.functions.Ranks.withWindowMaxBytes(0L)(body)
    windowless(twoPass(Eval.rocAuc(scored, "score", "label")))
    windowless(twoPass(Eval.mannWhitney(scored, "score", "label")))
    windowless(twoPass(Eval.averagePrecision(scored, "score", "label")))
    windowless(twoPass(Eval.riskCoverage(scored, "score", "label")))
    windowless(twoPass(Eval.gainsTable(scored, "score", "label")),
      allowBounded = true)
    windowless(twoPass(Eval.qiniCurve(scored, "score", "treated",
      "label")), allowBounded = true)
    val ev = spark.range(0, 5000).select(
      (col("id") % 400).as("u"), col("id").as("sec"),
      ((col("id") * 37) % 101).cast("double").as("v"))
    windowless(twoPass(graft.events.Events.rfmSegments(ev, "u", "sec", "v",
      asOfSec = 10000L, k = 5)))
    // the two distinct-value kernels without a size gate of their own
    windowless(twoPass(Eval.kruskalWallis(scored, "score", "treated")))
    windowless(twoPass(graft.events.Events.concurrency(
      ev.select(col("sec").as("s"), (col("sec") + col("u")).as("e")),
      "s", "e")))
  }
}
