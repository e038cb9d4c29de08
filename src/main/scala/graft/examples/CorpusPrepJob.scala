package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Args, GraftJob, GraftSession}
import graft.ml.{Dedup, Profile, TextAnalysis}

/** End-to-end training-corpus preparation — the pipeline this engine's
  * beyond-reference operators exist for, composed the way a user would
  * run it over 100 TB of raw documents:
  *
  *  1. language ID + quality scoring in ONE scan (both are Column
  *     expressions — no second pass over the text);
  *  2. filter to the target language above a quality floor;
  *  3. exact dedup (fingerprint group-by), keeping canonical ids;
  *  4. MinHash near-dup discovery → connected components → drop every
  *     non-canonical member of each near-dup cluster;
  *  5. token counting for budget accounting;
  *  6. deterministic hash split into train/holdout (stable under
  *     appends and across engines);
  *  7. partitioned parquet write (split first, then language).
  *
  * Every stage is shuffle-bounded: the only all-pairs work happens
  * inside LSH collision buckets, and every aggregation is
  * partial/final.
  *
  * Args: --input <documents parquet> --output <dir>
  *       [--lang en] [--min-quality 0.5] [--jaccard 0.8]
  *       [--holdout 0.01]
  */
class CorpusPrepJob(args: Args) extends GraftJob(args) {

  def run(spark: SparkSession): Unit = {
    val out = CorpusPrepJob.prepare(
      GraftSession.readParquet(spark, args("input")),
      lang = args.getOrElse("lang", "en"),
      minQuality = args.getOrElse("min-quality", "0.5").toDouble,
      jaccard = args.getOrElse("jaccard", "0.8").toDouble,
      holdout = args.getOrElse("holdout", "0.01").toDouble)
    out.write.partitionBy("split", "lang")
      .mode("overwrite").parquet(args("output"))
    Dedup.unpersistPipelineCaches()
  }
}

object CorpusPrepJob {

  /** The pipeline body, factored for testing: returns the curated
    * corpus with (doc_id, text, lang, quality, n_tokens, split).
    *
    * `keepBestRep = true` swaps step 4's blind min-id cluster
    * representative for [[Dedup.keepBest]]'s argmax-QUALITY member —
    * the "soft dedup" real pipelines run. `groupSplit = true` swaps
    * step 6's per-document hash split for [[graft.ml.Corpus
    * .splitByGroup]] keyed on the near-dup CLUSTER: the split is
    * assigned before the cluster is pruned and is a pure function of
    * the cluster id, so near-duplicates can never straddle
    * train/holdout — the leakage-free split composed with the
    * clustering that defines "leakage".
    */
  def prepare(docs: DataFrame, lang: String, minQuality: Double,
      jaccard: Double, holdout: Double,
      keepBestRep: Boolean = false, groupSplit: Boolean = false): DataFrame = {
    // 1-2: single-scan annotate + filter (both predicates push into
    // the same projection pass)
    val scored = docs
      .withColumn("lang_detected", TextAnalysis.langId(col("text")))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .filter(col("lang_detected") === lang && col("quality") >= minQuality)

    // 3: exact dedup — keep only canonical fingerprints
    val exact = Dedup.exactDuplicates(scored, "doc_id", "text")
      .filter(col("id") === col("canonical_id"))
      .select(col("id").as("doc_id"))
    val exactDeduped = scored.join(exact, "doc_id")

    // 4: near-dup clusters → one representative per cluster
    val pairs = Dedup.minHashNearDuplicates(
      exactDeduped, "doc_id", "text", threshold = jaccard)
    val comps = Dedup.connectedComponents(pairs)
    val docSplit =
      when(Profile.fibScramble(col("doc_id")) <
        lit((holdout * 2147483647L).toLong), "holdout").otherwise("train")
    val deduped =
      if (keepBestRep || groupSplit) {
        // keepBest exposes the cluster column, which doubles as the
        // leakage-free split group; min-id representative = argmax of
        // -doc_id, so the default representative rule is unchanged
        // unless keepBestRep asks for quality
        val rep = if (keepBestRep) col("quality") else -col("doc_id")
        val kb = Dedup.keepBest(exactDeduped, "doc_id", comps, rep)
        // splitByGroup requires strictly positive fractions; drop the
        // zero-weight side so holdout = 0.0 (or 1.0) degenerates to a
        // single-split assignment, matching the per-doc path's behavior.
        val groupFractions =
          Seq("train" -> (1.0 - holdout), "holdout" -> holdout)
            .filter(_._2 > 0.0)
        val withSplit =
          if (groupSplit && groupFractions.size > 1)
            graft.ml.Corpus.splitByGroup(kb, "cluster", groupFractions)
          else if (groupSplit)
            kb.withColumn("split", lit(groupFractions.head._1))
          else kb.withColumn("split", docSplit)
        withSplit.filter(col("keep")).drop("cluster", "keep")
      } else {
        val dropIds = comps
          .filter(col("id") =!= col("component"))
          .select(col("id").as("doc_id"))
        exactDeduped.join(dropIds, Seq("doc_id"), "left_anti")
          .withColumn("split", docSplit)
      }

    // 5-6: token accounting (+ the split assigned above)
    deduped
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      .select("doc_id", "text", "lang", "quality", "n_tokens", "split")
  }
}
