package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Lineage
import graft.core.{Args, GraftJob, GraftSession, PipelineCaches}
import graft.ml.{Corpus, Dedup}

/** The full training-data assembly line, [[CorpusPrepJob]] carried
  * through to trainer-ready output — every beyond-reference operator
  * family composed in the order a production pretraining pipeline
  * runs them:
  *
  *  1-6. curate ([[CorpusPrepJob.prepare]]): single-scan language +
  *       quality annotate/filter, exact dedup, MinHash near-dup
  *       cluster dedup, token accounting, deterministic
  *       train/holdout split;
  *  7.   decontaminate: drop TRAIN docs sharing ≥ `minShared`
  *       distinct 8-grams with the HOLDOUT set (the eval-leakage
  *       screen; probe grams broadcast, the corpus never shuffles);
  *  7b.  (optional) fluency gate: unigram-LM NLL scoring
  *       ([[graft.ml.TextAnalysis.unigramNll]]) + per-source bottom-
  *       fraction drop — CCNet-style perplexity bucketing;
  *  8.   mix: per-source token budget ([[Corpus.mixByBudget]]) — the
  *       corpus-balance knob;
  *  9.   pack: concat-and-chunk into fixed `ctxLen` sequences +
  *       per-sequence manifests ([[Corpus.sequenceManifest]]).
  *
  * Writes `<output>/docs` (curated train docs, partitioned by
  * source), `<output>/holdout`, and `<output>/manifest` (one row per
  * training sequence). Shuffle audit at 100 TB: curate is scan +
  * LSH-bucket joins, decontaminate is a broadcast join, mix and pack
  * are one hash exchange each — no stage shuffles the corpus twice.
  *
  * Args: --input <documents parquet> --output <dir>
  *       [--lang en] [--min-quality 0.5] [--jaccard 0.8]
  *       [--holdout 0.05] [--budget 100000] [--ctx 2048] [--shards 64]
  *       [--nll-drop <frac>]   (default 0 = fluency gate OFF)
  *       [--c4-clean] [--line-dedup] [--span-dedup] [--span-k 8]
  *       [--model-gate <score>] [--eval-report]
  *       [--keep-best] [--group-split]
  *       [--epochs src=w,src=w] [--max-epochs 4]
  *       [--tokenizer bpe|unigram] [--vocab-size 512]
  *       [--packing chunk|whole] [--mix-ordered]
  *       [--sortish-cutoffs 64,128,256] [--sortish-salt 0]
  */
class TrainingDataJob(args: Args) extends GraftJob(args) {

  def run(spark: SparkSession): Unit = {
    val out = args("output")
    val epochWeights = args.getOrElse("epochs", "").split(',')
      .filter(_.contains('=')).map { kv =>
        val Array(k, v) = kv.split('=')
        k -> v.toDouble
      }.toMap
    val r = TrainingDataJob.assemble(
      GraftSession.readParquet(spark, args("input")),
      lang = args.getOrElse("lang", "en"),
      minQuality = args.getOrElse("min-quality", "0.5").toDouble,
      jaccard = args.getOrElse("jaccard", "0.8").toDouble,
      holdout = args.getOrElse("holdout", "0.05").toDouble,
      budget = args.getOrElse("budget", "100000").toLong,
      ctxLen = args.getOrElse("ctx", "2048").toInt,
      nShards = args.getOrElse("shards", "64").toInt,
      nllDropFrac = args.getOrElse("nll-drop", "0").toDouble,
      stages = TrainingDataJob.Stages(
        c4Clean = args.boolean("c4-clean"),
        lineDedup = args.boolean("line-dedup"),
        spanDedup = args.boolean("span-dedup"),
        spanK = args.getOrElse("span-k", "8").toInt,
        modelGate = args.getOrElse("model-gate", "0").toDouble,
        evalReport = args.boolean("eval-report"),
        keepBestRep = args.boolean("keep-best"),
        groupSplit = args.boolean("group-split"),
        epochWeights = epochWeights,
        maxEpochs = args.getOrElse("max-epochs", "4").toInt,
        tokenizer = args.getOrElse("tokenizer", ""),
        vocabSize = args.getOrElse("vocab-size", "512").toInt,
        packing = args.getOrElse("packing", "chunk"),
        mixOrdered = args.boolean("mix-ordered"),
        sortishCutoffs = args.getOrElse("sortish-cutoffs", "")
          .split(",").filter(_.nonEmpty).map(_.toDouble).toSeq,
        sortishSalt = args.getOrElse("sortish-salt", "0").toLong))
    r.train.write.partitionBy("source").mode("overwrite").parquet(s"$out/docs")
    r.holdout.write.mode("overwrite").parquet(s"$out/holdout")
    r.manifest.write.mode("overwrite").parquet(s"$out/manifest")
    r.tokens.foreach(_.write.mode("overwrite").parquet(s"$out/tokens"))
    r.vocab.foreach(_.write.mode("overwrite").parquet(s"$out/vocab"))
    r.modelEval.foreach(
      _.write.mode("overwrite").parquet(s"$out/model_eval"))
    PipelineCaches.unpersistAll()
  }
}

object TrainingDataJob {

  final case class Assembled(train: DataFrame, holdout: DataFrame,
      manifest: DataFrame, tokens: Option[DataFrame] = None,
      vocab: Option[DataFrame] = None,
      modelEval: Option[DataFrame] = None)

  /** Optional stages wired through [[assemble]] — each defaults OFF so
    * the base pipeline contract is unchanged; a production run turns
    * on the ones its corpus needs:
    *
    *  - `c4Clean`: C4 line cleaning + page rule + Gopher document
    *    rules, one codegen'd scan BEFORE any shuffle touches the text;
    *  - `lineDedup`: corpus-wide exact line dedup (C4's global step) —
    *    documents whose every line was seen earlier drop out;
    *  - `spanDedup`: substring-span dedup (Lee et al. 2022) — find
    *    cross-document duplicated token spans (k-gram fingerprints,
    *    [[Dedup.duplicateSpans]]) and CUT them out of every document
    *    ([[Dedup.removeDuplicateSpans]], the find→remove composition
    *    real pipelines run); documents left with zero tokens drop
    *    out. Note the apply step re-tokenizes: surviving text is the
    *    normalized token stream rejoined with single spaces;
    *  - `modelGate` (> 0): train the logistic quality classifier on
    *    the cleaned corpus (distant supervision), score every doc as
    *    codegen'd literals, keep score ≥ `modelGate`;
    *  - `evalReport` (with `modelGate`): emit the gate model's ROC
    *    AUC + average precision against its distant-supervision label
    *    on the pre-gate corpus as `Assembled.modelEval`;
    *  - `keepBestRep`: near-dup clusters keep their argmax-quality
    *    member instead of the min id;
    *  - `groupSplit`: leakage-free split keyed on the near-dup
    *    cluster (see [[CorpusPrepJob.prepare]]);
    *  - `epochWeights` (non-empty): replace the token-budget mix with
    *    [[graft.ml.Corpus.mixByEpochs]] — weighted domains upsampled
    *    at most `maxEpochs` passes; train rows then carry
    *    (epoch, n_epochs) and the manifest packs one entry per
    *    (doc, epoch) under a composite id
    *    `doc_id * (maxEpochs + 1) + epoch`;
    *  - `tokenizer` ("bpe" | "unigram"): train a subword vocabulary of
    *    `vocabSize` pieces (merge budget for BPE) on the final train
    *    corpus and encode every doc to integer token ids — the
    *    trainer-ready representation; emits the `tokens` and `vocab`
    *    outputs;
    *  - `packing` ("chunk" | "whole"): "chunk" (default) is the
    *    GPT-style concat-and-chunk manifest ([[graft.ml.Corpus
    *    .sequenceManifest]] — docs may straddle sequences); "whole"
    *    is the no-split SFT regime ([[graft.ml.Corpus.binManifest]]
    *    over best-fit-decreasing [[graft.ml.Corpus.packWholeDocs]] —
    *    every doc intact in exactly one bin, bins never over `ctxLen`
    *    unless a single doc alone exceeds it). Same manifest schema
    *    either way, plus a `fill` column in whole mode for
    *    padding-fraction audits;
    *  - `mixOrdered`: the token-budget mix takes documents best-first
    *    by quality score instead of hash-random — the budget buys the
    *    best material ([[graft.ml.Corpus.mixByBudgetOrdered]]).
    */
  final case class Stages(
      c4Clean: Boolean = false,
      lineDedup: Boolean = false,
      spanDedup: Boolean = false,
      spanK: Int = 8,
      modelGate: Double = 0.0,
      evalReport: Boolean = false,
      keepBestRep: Boolean = false,
      groupSplit: Boolean = false,
      epochWeights: Map[String, Double] = Map.empty,
      maxEpochs: Int = 4,
      tokenizer: String = "",
      vocabSize: Int = 512,
      packing: String = "chunk",
      mixOrdered: Boolean = false,
      sortishCutoffs: Seq[Double] = Nil,
      sortishSalt: Long = 0L)

  /** Assembly stages are separated by eager [[Lineage.cut]]s. Five
    * operator families chained into one logical plan (curate's LSH
    * joins + components loop, the contamination join, the fluency
    * window, the mix window, the pack window) produce a tree deep
    * enough to overflow the stack when Spark *renders* it (explain /
    * error paths / codegen walk) — the same reason the reference's
    * iterative idiom restarts lineage every step (reference
    * `examples/PageRank.scala:54-81`). The cut also caches the stage
    * output, so the two-consumer stages below (train/holdout split,
    * fluency self-join) compute their input once. Like
    * `localCheckpoint`, a resident cut keeps no RDD lineage, so a lost
    * cut block fails the job (MEMORY_AND_DISK spills rather than
    * drops); [[PipelineCaches.unpersistAll]] frees the cuts once the
    * outputs are written.
    */
  def assemble(docs: DataFrame, lang: String, minQuality: Double,
      jaccard: Double, holdout: Double, budget: Long, ctxLen: Int,
      nShards: Int, nllDropFrac: Double = 0.0,
      stages: Stages = Stages()): Assembled = {
    import graft.ml.{Filters, QualityModel}

    // 0: C4/Gopher cleaning — pure Column expressions, so the line
    // filter, page rule and Gopher rules all ride the FIRST scan of
    // the text; at 100 TB the dead pages never reach a shuffle.
    val cleaned =
      if (!stages.c4Clean) docs
      else docs
        .withColumn("__clean", Filters.c4CleanText(col("text")))
        .filter(Filters.c4PageKeep(col("text"), col("__clean")) &&
          Filters.gopherKeep(col("__clean")))
        .withColumn("text", col("__clean")).drop("__clean")

    // 0b: corpus-wide exact line dedup (C4's global step): each
    // surviving doc's text is rebuilt from its first-occurrence
    // lines; docs left with nothing drop out entirely.
    val lineDeduped =
      if (!stages.lineDedup) cleaned
      else cleaned.drop("text").join(
        Filters.dedupLinesAcrossCorpus(cleaned, "doc_id", "text")
          .filter(col("n_kept") > 0)
          .select(col("doc_id"), col("cleaned").as("text")),
        "doc_id")

    // 0b2: substring-span dedup — find duplicated cross-doc spans,
    // then cut them from every doc (the Lee et al. find→remove
    // composition). Docs reduced to zero tokens drop out. The find
    // side shuffles only 16-byte (gh, pos) rows; the apply side is one
    // id-keyed join of the bounded per-doc span arrays.
    val spanDeduped =
      if (!stages.spanDedup) lineDeduped
      else lineDeduped.drop("text").join(
        Dedup.removeDuplicateSpans(lineDeduped, "doc_id", "text",
            Dedup.duplicateSpans(lineDeduped, "doc_id", "text", k = stages.spanK))
          .filter(col("n_tokens") > col("n_removed"))
          .select(col("doc_id"), col("cleaned").as("text")),
        "doc_id")

    // 0c: trained quality gate — 3 full-batch GD iterations (one
    // d+1-double aggregate each), then scoring is a codegen'd literal
    // expression in the same scan as the filter. With `evalReport`,
    // the model's ranking quality against its own distant-supervision
    // label (ROC AUC + average precision on the PRE-gate corpus) is
    // emitted alongside the outputs — the number a pipeline owner
    // reads before trusting the gate's threshold.
    val (classified, modelEval) =
      if (stages.modelGate <= 0.0) (spanDeduped, None)
      else {
        val w = QualityModel.train(spanDeduped, "text")
        val scored = Lineage.cut(QualityModel.score(spanDeduped, "text", w))
        val eval =
          if (!stages.evalReport) None
          else Some(graft.ml.Eval.rocAuc(scored, "score", "label")
            .crossJoin(graft.ml.Eval
              .averagePrecision(scored, "score", "label")
              .select(col("ap"))))
        (scored.filter(col("score") >= stages.modelGate)
          .drop(QualityModel.featureNames :+ "label" :+ "score": _*),
          eval)
      }

    // 1-6: curate (keeps doc_id, text, lang, quality, n_tokens, split).
    // `source` survives via join-back below so mixing can see it.
    val curated = Lineage.cut(CorpusPrepJob.prepare(classified, lang, minQuality,
        jaccard, holdout, stages.keepBestRep, stages.groupSplit)
      .join(docs.select("doc_id", "source"), "doc_id"))

    val holdoutDocs = curated.filter(col("split") === "holdout")
    val trainDocs = curated.filter(col("split") === "train")

    // 7: eval-leakage screen — any train doc sharing enough distinct
    // 8-grams with a holdout doc is dropped (holdout is the probe
    // side: small by contract, broadcast).
    val leaked = Dedup.contamination(trainDocs, holdoutDocs,
        "doc_id", "text")
      .select(col("corpus_id").as("doc_id")).distinct()
    val cleanTrain = trainDocs.join(leaked, Seq("doc_id"), "left_anti")

    // 7b (optional): corpus-LM fluency gate — score remaining train
    // docs with unigram NLL (CCNet-style perplexity bucketing) and
    // drop the least-fluent `nllDropFrac` per source. Score is the
    // negated NLL so the bottom of the per-stratum rank order is the
    // highest perplexity. Note: the inner join drops docs whose
    // normalized text has zero tokens (no NLL row) regardless of the
    // fraction — such docs carry no trainable text, so the gate
    // treats them as maximally non-fluent by construction.
    val screened = Lineage.cut(cleanTrain)
    val fluent =
      if (nllDropFrac <= 0.0) screened
      else Corpus.dropBottomByScore(
        screened.join(
          graft.ml.TextAnalysis.unigramNll(screened, "doc_id", "text"),
          "doc_id")
          .withColumn("__fluency", -col("nll")),
        "source", "__fluency", "doc_id", nllDropFrac)
        .drop("nll", "__fluency")

    // 8-9: mix + pack. Default: per-source token budget. With
    // `epochWeights`: the LLaMA-recipe epoch-cap mix — weighted
    // domains replayed up to maxEpochs passes; the upsampled stream
    // (one row per doc × epoch) is what gets packed, under a
    // composite id so each epoch's copy lands in its own sequence.
    def manifestOf(d: DataFrame): DataFrame = stages.packing match {
      case "chunk" => Corpus.sequenceManifest(d, "doc_id", "tok", ctxLen, nShards)
      case "whole" => Corpus.binManifest(d, "doc_id", "tok", ctxLen, nShards)
      case other => throw new IllegalArgumentException(
        s"unknown packing mode: $other (expected chunk or whole)")
    }
    val base0 = if (stages.epochWeights.isEmpty) {
      // default: hash-random budget fill; mixOrdered: best-first by
      // the quality score, so the budget buys the best material
      val mixed = Lineage.cut(
        if (stages.mixOrdered)
          Corpus.mixByBudgetOrdered(fluent, "doc_id", "source",
            "n_tokens", "quality", budget)
        else
          Corpus.mixByBudget(fluent, "doc_id", "source",
            "n_tokens", budget))
      val manifest = manifestOf(
        mixed.select(col("doc_id"), col("n_tokens").cast("long").as("tok")))
      Assembled(
        train = mixed.select("doc_id", "text", "source", "quality",
          "n_tokens", "cum_tokens"),
        holdout = holdoutDocs.select("doc_id", "text", "source", "quality",
          "n_tokens"),
        manifest = manifest, modelEval = modelEval)
    } else {
      val plan = Corpus.mixByEpochs(fluent, "doc_id", "source",
        "n_tokens", stages.epochWeights, budget, stages.maxEpochs)
      val expanded = Lineage.cut(fluent.join(
        plan.select("doc_id", "epoch", "n_epochs"), "doc_id"))
      val stride = stages.maxEpochs + 1L
      val manifest = manifestOf(
        expanded.select(
          (col("doc_id") * stride + col("epoch")).as("doc_id"),
          col("n_tokens").cast("long").as("tok")))
      Assembled(
        train = expanded.select("doc_id", "text", "source", "quality",
          "n_tokens", "epoch", "n_epochs"),
        holdout = holdoutDocs.select("doc_id", "text", "source", "quality",
          "n_tokens"),
        manifest = manifest, modelEval = modelEval)
    }

    // 10 (optional): tokenize — the step that turns curated text into
    // what a trainer actually loads. A subword vocabulary is trained
    // on the FINAL train corpus (post-clean/dedup/mix, so the vocab
    // reflects the real token distribution), every doc is encoded to
    // integer ids, and ids are assigned by UTF-8 piece order — fully
    // deterministic, engine-independent. Outputs one (doc_id,
    // token_ids) row per unique doc (epoch-mixed copies share their
    // encoding — the manifest replays the duplication) plus the
    // (token_id, piece) vocab table. Encoding is the shuffle-free
    // memoized mapPartitions of Bpe.encode/UnigramLm.encode; the only
    // extra exchange is the vocab-bounded distinct-piece aggregate.
    // 9b (optional): sortish output order — frozen length-bucket +
    // salted in-bucket key columns on the train split; writers order
    // by (bucket, sort_key) for padding-efficient batches
    val base =
      if (stages.sortishCutoffs.isEmpty) base0
      else base0.copy(train = Corpus.lengthBucketedOrder(
        base0.train, "doc_id", "n_tokens", stages.sortishCutoffs,
        stages.sortishSalt))

    if (stages.tokenizer.isEmpty) base
    else {
      val spark = docs.sparkSession
      import spark.implicits._
      import graft.ml.{Bpe, UnigramLm}
      val trainText = base.train
        .select(col("doc_id").cast("long"), col("text"))
        .dropDuplicates("doc_id")
        .as[(Long, String)]
      val encoded = (stages.tokenizer match {
        case "bpe" =>
          // vocabSize is the merge budget here (BPE grows bottom-up)
          val merges = Bpe.trainFromCounts(spark,
            Bpe.wordCounts(trainText.map(_._2)), stages.vocabSize)
          Bpe.encode(trainText, merges)
        case "unigram" =>
          val vocab = UnigramLm.trainFromCounts(spark,
            Bpe.wordCounts(trainText.map(_._2)), stages.vocabSize)
          UnigramLm.encode(trainText, vocab)
        case other => throw new IllegalArgumentException(
          s"unknown tokenizer: $other (expected bpe or unigram)")
      }).persist()
      val pieceList = encoded.flatMap(_._2.iterator).distinct()
        .collect().sortWith(Bpe.ltUtf8) // vocab-bounded
      val pieceId = pieceList.zipWithIndex.toMap
      val tokens = Lineage.cut(encoded
        .map { case (d, ps) => (d, ps.map(pieceId)) }
        .toDF("doc_id", "token_ids"))
      encoded.unpersist(blocking = false)
      val vocabDf = pieceList.zipWithIndex
        .map { case (p, i) => (i, p) }.toSeq
        .toDF("token_id", "piece")
      base.copy(tokens = Some(tokens), vocab = Some(vocabDf))
    }
  }
}
