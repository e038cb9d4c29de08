package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark harness. Prints ONE JSON line:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  *
  * Headline queries cover each engine capability group (scan+agg,
  * shuffle/broadcast join, global sort, window, bounded top-k, typed
  * closures, matrix product, sessionization, text scan, MinHash dedup,
  * ANN). Results are forced through the noop sink so the full plan
  * executes (a bare count() would let Catalyst prune projections).
  */
object Bench {

  val headline: Seq[String] = Seq(
    "q_agg_groupby",
    "q_agg_head_last",
    "q_join_inner_agg",
    "q_join_broadcast",
    "q_join_skew",
    "q_sort_limit",
    "q_window_running_sum",
    "q_typed_wordcount",
    "q_typed_sortedtake",
    "q_matrix_product",
    "q_join_asof",
    "q_join_asof_native",
    "q_events_sessionize",
    "q_text_quality",
    "q_dedup_minhash",
    "q_ann_bruteforce",
    // round-3 flagship additions
    "q_dedup_incremental",
    "q_events_funnel",
    "q_ann_ivf_quantized",
    // round-4: corpus assembly + skew-safe collect
    "q_text_pack",
    "q_corpus_mix",
    "q_agg_salted_collect",
    // round-5: quality-filter scan + temperature mixing
    "q_text_repetition",
    "q_corpus_mix_temperature",
    // round-6: substring-span dedup + corpus LM scoring + chunking,
    // TF-IDF, bigram LM, event attribution
    "q_dedup_spans",
    "q_text_unigram_nll",
    "q_text_bigram_nll",
    "q_text_tfidf",
    "q_text_chunk",
    "q_events_attribution",
    // round-7: batched BPE vocabulary induction (256 merges) +
    // corpus-wide tokenizer application
    "q_text_bpe_deep",
    "q_text_bpe_encode",
    // round-8: corpus-wide line dedup (explode + skew-safe first-
    // occurrence groupBy) + trained quality classifier (3 GD
    // aggregates + codegen'd scoring scan)
    "q_text_line_dedup",
    "q_text_quality_model",
    // round-9: bloom-filter pre-join (scalar-subquery build + pruned
    // fact scan before the shuffle)
    "q_join_bloom",
    // round-10: native single-pass gap sessionization (custom exec;
    // benched against the q_events_sessionize window form above) +
    // DSIR importance weighting (two LMs off one token scan)
    "q_events_sessionize_native",
    "q_text_dsir",
    // round-11: real image decode + resize kernel (hand-rolled codec
    // over constructed PPM payloads, encode→decode round-trip)
    "q_multimodal_decode",
    // round-12: unigram-LM tokenizer (train 512 pieces + corpus-wide
    // Viterbi encode) + per-domain quality cap (bounded-PQ top-k +
    // broadcast join-back)
    "q_text_unigram_encode",
    "q_corpus_domain_cap",
    // round-13: IVF-PQ ANN (coarse lists + residual PQ codes + ADC
    // probe scan + exact re-rank of the shortlist)
    "q_ann_ivfpq",
    // round-14: CCNet perplexity bucketing (per-language LM + ntile),
    // sort-free global training order, whole-doc BFD packing, and
    // degree-oriented triangle counting on the co-purchase graph
    "q_text_ppl_bucket",
    "q_corpus_train_order",
    "q_corpus_pack_fit",
    "q_graph_triangles",
    // round-15: softmax tier classifier (2 K·D GD aggregates +
    // scoring scan), Fellegi-Sunter EM linkage (3 EM aggregates over
    // the candidate join), inverted-index BM25 (build + pruned query)
    "q_text_quality_tiers",
    "q_dedup_linkage",
    "q_text_bm25_index",
    // round-16: interval-overlap join (bucketed dedup-free), PCA
    // covariance moments pass, Poisson-bootstrap CI (100 replicates),
    // hybrid BM25+cosine RRF retrieval, mSPRT sequential test
    "q_join_interval",
    "q_embed_pca_cov",
    "q_events_bootstrap",
    "q_text_hybrid",
    "q_events_sequential",
    // round-17: prefix-filtered exact similarity join (lossless,
    // blocked configuration — the unblocked gate stays correctness-
    // only: the synthetic corpus's tiny vocabulary is the documented
    // prefix-filter worst case) + interpolated Kneser-Ney bigram LM
    "q_dedup_prefix_blocked",
    "q_text_kn_nll",
    // round-18: PPMI co-occurrence (offset-exploded equi-join over
    // token positions), Jaro-Winkler blocked linkage (native codegen'd
    // verify), ROC AUC (distinct-score midrank kernel), Gries
    // dispersion (vocab x strata grid)
    "q_text_ppmi",
    "q_join_jarowinkler",
    "q_eval_auc",
    "q_text_dispersion",
    // round-19: baseline JPEG codec (per-doc encode + full Huffman/
    // IDCT decode across quality/subsample/restart variants), FFT
    // spectral features (per-clip Hann-windowed 256-pt frames), and
    // the one-pass HTML->text extraction kernel
    "q_multimodal_jpeg",
    "q_multimodal_spectral",
    "q_web_extract",
    // round-20: winnowing fingerprints (per-window arg-min kernel),
    // TextCat language ID (rank-profile broadcast join), margin-based
    // bitext mining (two-direction bounded k-NN + margin algebra),
    // Luhn card PII (regex + checksum Column program over the corpus),
    // Poisson-bootstrap CI (x200 replicate explode into partial aggs),
    // FIM transform (narrow codegen'd map), outlink edge extraction
    "q_dedup_winnowing",
    "q_text_langid_textcat",
    "q_embed_margin_mine",
    "q_text_card_pii",
    "q_eval_bootstrap",
    "q_text_fim",
    "q_web_links",
    // round-20 second batch: link prediction (bucketed wedge join),
    // WER (two-row DP kernel), chat flattening (from_json protocol
    // validation), target encoding (category agg + broadcast prior),
    // seasonal decomposition (bucket collapse + bounded windows)
    "q_graph_linkpred",
    "q_eval_wer",
    "q_chat_flatten",
    "q_text_target_encode",
    "q_events_seasonal",
    // round-21: RAKE phrase extraction (islands window + two hash
    // aggs), corpus TextRank (10 joined PR iterations on the word
    // co-occurrence graph), chrF (bounded per-pair multi-order gram
    // kernel), Holt-Winters (bucket collapse + bounded
    // per-series recursion), DPO pairs (two prompt windows + self-
    // join), split conformal (per-group rank + coverage join)
    "q_text_rake",
    "q_text_textrank",
    "q_eval_chrf",
    "q_events_holtwinters",
    "q_pref_dpo",
    "q_eval_conformal",
    // round-21 second batch: sequence mining (two lead windows + one
    // pattern agg), RFM (user agg + distinct-value quintiles),
    // quantile normalization (bucketed pooled-position join),
    // Matryoshka recall (4 bounded brute-force passes)
    "q_events_seqpat",
    "q_events_rfm_exactq",
    "q_text_quantile_norm",
    "q_embed_matryoshka",
    // round-21 third batch: signed feature hashing (explode + hash
    // agg), token-label MI (distinct-presence counts + broadcast
    // label totals), WoE/IV encoding (category agg + 1-row totals)
    "q_text_feature_hash",
    "q_text_token_mi",
    "q_events_woe",
    // round-21 fourth batch: Heaps' law fit (first-occurrence agg +
    // 10 checkpoint joins), Burrows' Delta (top-50 z-grid pair join),
    // LSH dedup-quality audit (exact blocked pairs vs banded MinHash)
    "q_text_heaps",
    "q_text_burrows",
    "q_dedup_lsh_quality",
    // round-22: ACF/Ljung-Box + Mann-Kendall (bucket-grid pair
    // joins), post-stratified ATE (two tiny aggregates), soundex
    // (pure string Column program over the vocabulary), simplified
    // silhouette (corpus scan vs broadcast centroids), binary
    // sign-bit ANN (packed Hamming pass + exact rerank)
    "q_events_acf",
    "q_events_mann_kendall",
    "q_events_poststrat_ate",
    "q_text_soundex",
    "q_embed_silhouette",
    "q_ann_binary",
    // round-22 second batch: S-stemmer + KWIC (tokenize scans),
    // positional phrase search (term-filtered postings + position
    // equi-joins), power-law tail fit (degree agg + 1-row tail),
    // Cronbach's alpha (three grid aggregates)
    "q_text_sstem",
    "q_text_kwic",
    "q_text_phrase",
    "q_graph_powerlaw",
    "q_eval_cronbach",
    // round-22 third batch: pass@k (problem agg + log-term grid),
    // OOV rate (token agg + broadcast vocab), Procrustes alignment
    // (one d^2 moments aggregate + driver SVD + kernel apply),
    // seasonal anomalies (decomposition + 1-row sigma), gain
    // normalization (narrow kernel)
    "q_eval_passk",
    "q_text_oov",
    "q_embed_procrustes",
    "q_events_anomaly",
    "q_multimodal_gain",
    // round-22 fourth batch: cascade/geometric ranking metrics over
    // the shared retrieval construction, Dirichlet QL retrieval
    // (term-filtered postings), MMR re-rank (bounded greedy kernel)
    "q_eval_err",
    "q_eval_rbp",
    "q_text_qld",
    "q_embed_mmr",
    // round-22 fifth batch: SCD2 build (key-partitioned windows) +
    // as-of validity lookup (equi hash join + interval condition)
    "q_events_scd2",
    "q_events_scd2_lookup",
    // round-22 sixth batch: ranking experimentation suite (PBM
    // curve, IPS counterfactual value, team-draft interleaving)
    "q_eval_position_bias",
    "q_eval_ips",
    "q_eval_interleave",
    // round-22 seventh batch: related items (capped pair table),
    // hubness (self-kNN + moments), MMD (bounded-sample kernel grid)
    "q_assoc_item_cosine",
    "q_embed_hubness",
    "q_embed_mmd",
    // round-22 eighth batch: fairness audit (group aggregates),
    // LSH banding planner (pure grid arithmetic)
    "q_eval_fairness",
    "q_dedup_lsh_plan",
    // round-22 ninth batch: forecast scorecard (offset join + key
    // agg), tokenizer fertility (per-doc columns + stratum agg)
    "q_events_forecast_acc",
    "q_text_fertility",
    // round-9 statistics batch: paired-model comparison, rank-based
    // group tests, selective-prediction curve,
    // survival comparison, sequential drift, stratified 2x2 pooling,
    // TextTiling-lite segmentation
    "q_eval_mcnemar",
    "q_eval_kruskal",
    "q_eval_brown_forsythe",
    "q_eval_risk_coverage",
    "q_events_logrank",
    "q_events_page_hinkley",
    "q_events_cmh",
    "q_text_tiling",
    // round-9 second batch: generation diversity (distinct-n gram
    // aggregates; self-BLEU bounded-sample multi-reference kernel),
    // Chao1 richness, gains/lift deciles, Cohen's d, Hellinger drift
    "q_text_distinct_n",
    "q_eval_self_bleu",
    "q_text_chao1",
    "q_eval_gains",
    "q_eval_cohens_d",
    "q_events_hellinger",
    // round-9 third batch: observational-causal + uplift + ranking
    // fairness (grid-matched PSM, qini deciles, exposure audit)
    "q_events_psm",
    "q_eval_qini",
    "q_eval_exposure",
    // round-9 fourth batch: clustered ratio-metric SE, bandit replay
    // eval, TwoNN intrinsic dimension, covariance spectrum shape
    "q_events_delta_ratio",
    "q_eval_bandit_replay",
    "q_eval_bandit_arm",
    "q_embed_twonn",
    "q_embed_effrank",
    // round-9 fifth batch: segmentation eval (tiling + sliding
    // windows), Markov entropy rate, LM cross-entropy matrix
    "q_text_windowdiff",
    "q_events_markov_entropy",
    "q_text_xent",
    // round-9 sixth batch: directed reciprocity, exact DAU/MAU
    // stickiness via the interval sweep
    "q_graph_reciprocity",
    "q_events_stickiness",
    // round-10: exception-catching trap (addTrap closure-throw
    // parity — Try-split mapPartitions scan, both branches consumed)
    // + the Buffer/every escape hatch (sorted-run streaming buffer)
    "q_trap_throwing",
    "q_fields_mapstream",
    // round-10 second batch: temporal texture + concentration
    // (q_graph_harmonic stays correctness-gated only — the iterative
    // landmark-BFS class, like kcore/hops, is not a headline shape)
    "q_events_burstiness",
    "q_profile_hhi",
    // round-10 third batch: vocabulary richness (token explode +
    // two hash aggs), categorical MI (joint agg + marginals of the
    // joint), deterministic per-key sample (md5-rank bounded PQ)
    "q_text_richness",
    "q_profile_mi",
    "q_profile_sample",
    // round-11: perceptual image dedup — dHash kernel + banded
    // Hamming self-join (brightness-shifted re-encodes that byte
    // dedup misses), discovery + exact verify in one plan
    "q_multimodal_dhash",
    // round-11 second batch: the audio + video twins — energy-envelope
    // print (gain-invariant) through the shared banded-Hamming kernel,
    // and per-frame dHash with (frame_idx, slice) candidates + aligned
    // Hamming-sum verify
    "q_multimodal_audiofp",
    "q_multimodal_vhash")

  /** (1-min load average, cumulative steal jiffies) — captured before
    * and after the timed list so external-load interference on the
    * shared box (BASELINE.md's documented 2-7x flake class) is
    * adjudicable from the artifact alone.
    */
  private[graft] def loadEvidence(): (Double, Long) = {
    def readFirstLine(p: String): String =
      try java.nio.file.Files.readAllLines(java.nio.file.Paths.get(p)).get(0)
      catch { case _: Throwable => "" }
    val load1 = readFirstLine("/proc/loadavg").split("\\s+")
      .headOption.flatMap(_.toDoubleOption).getOrElse(-1.0)
    // /proc/stat first line: cpu user nice system idle iowait irq softirq steal ...
    val steal = readFirstLine("/proc/stat").split("\\s+")
      .drop(8).headOption.flatMap(_.toLongOption).getOrElse(-1L)
    (load1, steal)
  }

  /** Contention accept/reject rule (docs/ENVELOPES.md): a capture is
    * CONTENDED when hypervisor steal during the timed list exceeds 2%
    * of the run's cpu-seconds budget (wall × cores; steal jiffies at
    * USER_HZ=100). Below that, co-tenant noise cannot move any
    * per-query number past its envelope by itself; above it, the
    * capture is flagged (and retried once) rather than committed as a
    * regression baseline — the round-10 failure mode (46/156 rows over
    * ceiling at steal_delta 55,813 ≈ 6.7% of a 260 s × 32-core run).
    */
  private[graft] def contentionFlag(stealDelta: Long, wallSec: Double,
      cpus: Int): Boolean =
    stealDelta > 0 && wallSec > 0 &&
      stealDelta / 100.0 > 0.02 * wallSec * cpus

  private[graft] final case class Attempt(
      results: Seq[(String, Double)],
      load1Before: Double, load1After: Double,
      stealBefore: Long, stealAfter: Long) {
    def stealDelta: Long = stealAfter - stealBefore
    def wall: Double = results.collect { case (_, v) if v >= 0 => v }.sum
    def failed: Int = results.count { case (_, v) => v < 0 }
    def loadJson: String =
      s""""load1_before":$load1Before,"load1_after":$load1After,""" +
        s""""steal_before":$stealBefore,"steal_after":$stealAfter,""" +
        s""""steal_delta":$stealDelta"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.core.GraftSession.mainCores
    val spark = graft.core.GraftSession.forMain()

    // optional comma-separated headline filter for local A/B isolation
    // (the driver always runs the full list)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    val headline = Bench.headline.filter(n => only.forall(_.contains(n)))
      .filter(SparkEntry.queries.contains)
    // capture BEFORE the warmup pass: load1 must witness the box
    // state the run inherited, not the warmup's own 32-thread burst
    val (load1Inherited, stealInherited) = loadEvidence()
    headline.foreach(warmUp(spark, _))

    def runList(load1Before: Double, stealBefore: Long): Attempt = {
      val results = headline.map { name =>
        val dt = try { val (build, sink) = runQuery(spark, name, sfDir); build + sink }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
        }
        name -> dt
      }
      val (load1After, stealAfter) = loadEvidence()
      Attempt(results, load1Before, load1After, stealBefore, stealAfter)
    }

    val first = runList(load1Inherited, stealInherited)
    // contended capture (rule above): retry ONCE in-process — warm
    // plans, fresh load window — unless disabled. Keep the
    // lower-steal attempt; both load blocks land in the artifact.
    val retryEnabled =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY", "1") != "0"
    val firstContended =
      contentionFlag(first.stealDelta, first.wall, cpus)
    val attempts: Seq[Attempt] =
      if (firstContended && retryEnabled) {
        System.err.println(
          s"[bench] contended capture (steal_delta ${first.stealDelta} " +
            s"over ${f1(first.wall)} s x $cpus cores) — retrying once")
        val (l2, s2) = loadEvidence()
        Seq(first, runList(l2, s2))
      } else Seq(first)
    val chosen = attempts.minBy(_.stealDelta)
    val results = chosen.results
    val contended =
      contentionFlag(chosen.stealDelta, chosen.wall, cpus)

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val total = chosen.wall
    // A failed query times as -1.0 and contributes zero seconds to the
    // total, which makes a broken round look FASTER — the "failed"
    // count keeps the artifact honest, and the run exits non-zero so
    // automation can't parse a red bench as green.
    val failed = chosen.failed
    val loadJson = s""""load":{${chosen.loadJson}},"contended":$contended,""" +
      s""""attempts":[${attempts.map(a => s"{${a.loadJson}}").mkString(",")}]"""
    val json =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","failed":$failed,"cpus":$cpus,$loadJson,"queries":$qs,"sf":"$sfDir"}"""
    // Durable fallback against driver tail-capture truncation: the FULL
    // per-query JSON lands at the repo root, so the round's bench signal
    // survives even if stdout capture clips (round-6 failure mode).
    // Every run writes its cpus-stamped copy; only the run at the
    // machine's own core count (the main run) writes the unstamped
    // BENCH_SUMMARY.json, so a scaling run at another core count
    // cannot overwrite the main run's capture.
    val summaries = s"BENCH_SUMMARY_c$cpus.json" +:
      (if (cpus == Runtime.getRuntime.availableProcessors) Seq("BENCH_SUMMARY.json")
       else Nil)
    summaries.foreach { p =>
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p), json + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] $p write failed: ${e.getMessage}")
      }
    }
    // The stdout metric line is TOTALS-ONLY: three consecutive rounds of
    // the driver's tail capture truncated the ~4 KB per-query line
    // mid-object ("parsed": null in BENCH_r06..r08). A short line always
    // fits the capture window; per-query seconds live in
    // BENCH_SUMMARY.json, which the driver reads as the fallback.
    val shortJson =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","failed":$failed,"n":${results.size},"load1":[${chosen.load1Before},${chosen.load1After}],"steal_delta":${chosen.stealDelta},"contended":$contended,"sf":"$sfDir","queries_detail":"BENCH_SUMMARY.json"}"""
    // Stop Spark BEFORE printing the metric line so shutdown log noise
    // can't land between the JSON and end-of-stream in a tail capture.
    spark.stop()
    println(shortJson)
    if (failed > 0) {
      System.err.println(s"[bench] $failed headline quer${if (failed == 1) "y" else "ies"} FAILED")
      sys.exit(1)
    }
  }

  /** The one query run of Bench and `graft.tools.Profile`: build `name`
    * on `dir`, write it to the noop sink (`beforeSink` runs untimed in
    * between), drop the pipeline caches it persisted so they cannot
    * squeeze later queries. Returns build and sink seconds. */
  private[graft] def runQuery(spark: SparkSession, name: String, dir: String,
      beforeSink: () => Unit = () => ()): (Double, Double) = {
    val build = SparkEntry.queries(name)
    try {
      val t0 = System.nanoTime()
      val df = build(spark, dir)
      val t1 = System.nanoTime()
      beforeSink()
      val t2 = System.nanoTime()
      graft.sources.NullSink.write(df)
      ((t1 - t0) / 1e9, (System.nanoTime() - t2) / 1e9)
    } finally graft.core.PipelineCaches.unpersistAll()
  }

  /** An untimed [[runQuery]] on the smallest SF: JIT and codegen warm-up. */
  private[graft] def warmUp(spark: SparkSession, name: String): Unit =
    try runQuery(spark, name, "/root/testdata/sf0.001") catch { case _: Throwable => }

  // Per-query seconds rounded to 3 decimals: round 6 lost its bench
  // artifact because the full-precision 59-query line outgrew the
  // driver's tail-capture window and the JSON arrived decapitated.
  private def f3(v: Double): String =
    if (v < 0) "-1.0"
    else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def f1(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
}
