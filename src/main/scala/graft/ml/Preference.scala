package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Lineage

/** Pairwise-preference rating — the aggregation step of a
  * preference-data pipeline (RLHF-style comparison datasets, ranker
  * evaluation, arena-style model leaderboards): given (winner, loser)
  * comparison outcomes, estimate per-item strength scores.
  *
  * Superset capability (no reference counterpart — the reference stops
  * at generic aggregation, SURVEY §2.4); the natural companion to the
  * experiment-analysis family in [[graft.events.Events]].
  */
object Preference {

  /** Bradley–Terry strengths via the MM algorithm (Hunter, "MM
    * algorithms for generalized Bradley–Terry models", Annals of
    * Statistics 2004): model P(i beats j) = θ_i / (θ_i + θ_j) and
    * iterate the minorization–maximization update
    *
    *   θ_i ← W_i / Σ_{j≠i} n_ij / (θ_i + θ_j)
    *
    * (W_i = total wins of i, n_ij = matches played between i and j),
    * renormalizing to Σθ = 1 each round — every iterate then improves
    * the likelihood, and the fixed point is the MLE when the
    * comparison graph is strongly connected.
    *
    * Fully distributed: the state is one (item, θ) row per item and
    * each iteration is two hash joins of the symmetric pair-count
    * table against it plus one aggregate — no driver-side state, so
    * the item domain can be arbitrarily large (documents, prompts,
    * model checkpoints). The per-round normalizer is a 1-row
    * aggregate broadcast back with a cross join, same shape as the
    * PageRank dangling-mass scalar. Items that never appear in any
    * match are absent from the output (their likelihood is
    * unconstrained).
    *
    * @param matches one row per comparison (or per aggregated bucket
    *                of comparisons when `countCol` is set)
    * @return (item, wins, matches, rating): total wins, total matches
    *         played, and the normalized strength θ (Σθ = 1)
    */
  /** DPO / RLHF preference-pair construction from scored responses:
    * per prompt, rank responses by (score desc, id asc) and pair the
    * k-th best with the k-th worst for k = 1..maxPairsPerPrompt —
    * the deterministic "outside-in" pairing that extracts the
    * largest-margin pairs first without reusing one chosen response
    * for every pair. A pair is emitted only when (a) the two rows
    * are distinct and non-crossing (2k ≤ n responses) and (b)
    * chosen_score − rejected_score ≥ minMargin (low-signal
    * near-ties poison a DPO loss; the margin floor is explicit, not
    * an afterthought).
    *
    * Returns (prompt, pair_rank, chosen, rejected, chosen_score,
    * rejected_score, margin).
    *
    * Scale shape: two row_number windows inside the prompt partition
    * and one self-join on (prompt, pair_rank) — a single
    * hashpartitioning(prompt) exchange; response groups are
    * panel-sized by contract (a prompt has k model samples, not a
    * corpus).
    */
  def dpoPairs(responses: DataFrame, promptCol: String, respCol: String,
      scoreCol: String, minMargin: Double = 0.0,
      maxPairsPerPrompt: Int = 1): DataFrame = {
    require(maxPairsPerPrompt >= 1, "maxPairsPerPrompt must be >= 1")
    val base = responses.select(col(promptCol).as("prompt"),
      col(respCol).as("resp"), col(scoreCol).cast("double").as("score"))
    val byPrompt = org.apache.spark.sql.expressions.Window
      .partitionBy("prompt")
    val best = row_number().over(
      byPrompt.orderBy(col("score").desc, col("resp").asc))
    val worst = row_number().over(
      byPrompt.orderBy(col("score").asc, col("resp").desc))
    val ranked = base
      .withColumn("rb", best).withColumn("rw", worst)
      .withColumn("n", count(lit(1)).over(byPrompt))
    val chosen = ranked.filter(col("rb") <= maxPairsPerPrompt &&
        col("rb") * 2 <= col("n"))
      .select(col("prompt"), col("rb").as("pair_rank"),
        col("resp").as("chosen"), col("score").as("chosen_score"))
    val rejected = ranked.filter(col("rw") <= maxPairsPerPrompt &&
        col("rw") * 2 <= col("n"))
      .select(col("prompt"), col("rw").as("pair_rank"),
        col("resp").as("rejected"), col("score").as("rejected_score"))
    chosen.join(rejected, Seq("prompt", "pair_rank"))
      .withColumn("margin", col("chosen_score") - col("rejected_score"))
      .filter(col("margin") >= minMargin)
      .select("prompt", "pair_rank", "chosen", "rejected",
        "chosen_score", "rejected_score", "margin")
  }

  def bradleyTerry(matches: DataFrame, winnerCol: String, loserCol: String,
      iters: Int = 10, countCol: Option[String] = None): DataFrame = {
    require(iters >= 1, "bradleyTerry needs at least one iteration")
    val cnt = countCol.map(col).getOrElse(lit(1L)).cast("long")
    val m = matches.select(col(winnerCol).cast("string").as("w"),
      col(loserCol).cast("string").as("l"), cnt.as("c"))
    // symmetric matches-played table: n_ij keyed by (a, b) AND (b, a),
    // so the denominator is one join-aggregate per side
    val pairs = Lineage.cut( // reused every round — cut lineage once
      m.select(col("w").as("a"), col("l").as("b"), col("c"))
        .unionAll(m.select(col("l").as("a"), col("w").as("b"), col("c")))
        .groupBy("a", "b").agg(sum("c").as("n")))
    val wins = Lineage.cut(pairs.groupBy(col("a").as("item"))
      .agg(sum(lit(1)).as("__ig")) // item universe (≥1 match each)
      .join(m.groupBy(col("w").as("item")).agg(sum("c").as("wins")),
        Seq("item"), "left")
      .select(col("item"), coalesce(col("wins"), lit(0L)).as("wins")))
    val matchCounts = pairs.groupBy(col("a").as("item"))
      .agg(sum("n").as("matches"))
    // a cut per round (the personalizedPageRank idiom) — the
    // 10-iteration plan otherwise nests past what Catalyst analysis
    // tolerates, and at scale re-derives every prior round
    val theta0 = wins.select(col("item"), lit(1.0).as("th"))
    val theta = Lineage.iterate(theta0, iters) { theta =>
      val denom = pairs
        .join(theta.select(col("item").as("a"), col("th").as("tha")), "a")
        .join(theta.select(col("item").as("b"), col("th").as("thb")), "b")
        .groupBy(col("a").as("item"))
        .agg(sum(col("n").cast("double") / (col("tha") + col("thb")))
          .as("den"))
      val unnorm = wins.join(denom, "item")
        .select(col("item"),
          (col("wins").cast("double") / col("den")).as("t"))
      val total = unnorm.agg(sum("t").as("s"))
      unnorm.crossJoin(total)
        .select(col("item"), (col("t") / col("s")).as("th"))
    }((_, _) => false)
    wins.join(matchCounts, "item").join(theta, "item")
      .select(col("item"), col("wins"), col("matches"),
        col("th").as("rating"))
  }
}
