package graft

import org.apache.spark.sql.functions._
import graft.examples.TrainingDataJob

/** Full assembly line: curate → decontaminate vs holdout → mix to
  * budget → pack. Verifies the leakage screen actually fires and the
  * budget/packing invariants hold.
  */
class TrainingDataSpec extends SparkSpec {

  private def scramble(id: Long): Long =
    (id % 2147483647L) * 1327217885L % 2147483647L

  test("assemble drops eval-leaked train docs and respects budget + packing invariants") {
    import spark.implicits._
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    val holdoutFrac = 0.2

    // first pass to learn which docs land in holdout
    val r0 = TrainingDataJob.assemble(docs, lang = "en", minQuality = 0.3,
      jaccard = 0.7, holdout = holdoutFrac, budget = 100000L,
      ctxLen = 128, nShards = 4)
    val holdoutRow = r0.holdout.orderBy("doc_id").head()
    val holdoutText = holdoutRow.getAs[String]("text")

    // plant a train-landing doc that embeds a long mid-span of a
    // holdout doc (shares many 8-grams) inside unrelated English
    // padding (Jaccard vs the holdout doc stays below 0.7, so it
    // survives near-dup dedup and must be caught by the leakage
    // screen instead)
    val span = holdoutText.split("\\s+").slice(2, 26).mkString(" ")
    val pad = "the committee met on a bright morning and they discussed " +
      "many important matters of policy and the budget for the coming year " +
      "while it was agreed that further study would be needed before any decision"
    val plantedId = Iterator.iterate(9000001L)(_ + 1)
      .find(id => scramble(id) >= (holdoutFrac * 2147483647L).toLong).get
    val planted = Seq((plantedId, s"$pad $span $pad", "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")

    val r = TrainingDataJob.assemble(docs.unionByName(planted),
      lang = "en", minQuality = 0.3, jaccard = 0.7,
      holdout = holdoutFrac, budget = 100000L, ctxLen = 128, nShards = 4)

    val trainIds = r.train.select("doc_id").as[Long].collect().toSet
    val holdoutIds = r.holdout.select("doc_id").as[Long].collect().toSet
    assert(!trainIds.contains(plantedId), "leaked doc survived the screen")
    assert(trainIds.intersect(holdoutIds).isEmpty)

    // mixing: per-source running totals within budget
    assert(r.train.filter(col("cum_tokens") > 100000L).count() == 0)
    // packing: every mixed doc appears in exactly one manifest row
    val manifestDocs = r.manifest.select(explode(split(col("doc_ids"), ",")))
      .as[String].collect().map(_.toLong)
    assert(manifestDocs.length == trainIds.size)
    assert(manifestDocs.toSet == trainIds)
    // sequences are capacity-consistent: n_docs matches the id list
    val counts = r.manifest.select(col("n_docs"),
      size(split(col("doc_ids"), ",")).cast("long")).as[(Long, Long)].collect()
    counts.foreach { case (n, listed) => assert(n == listed) }
  }

  test("without planted leakage, decontamination keeps the corpus intact") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    val r = TrainingDataJob.assemble(docs, lang = "en", minQuality = 0.3,
      jaccard = 0.7, holdout = 0.2, budget = 100000L,
      ctxLen = 128, nShards = 4)
    // synthetic docs are mutually unrelated: nothing should be
    // screened out, and train + holdout partition the curated set
    assert(r.train.count() > 0 && r.holdout.count() > 0)
    val total = r.train.count() + r.holdout.count()
    val curated = graft.examples.CorpusPrepJob.prepare(docs, "en", 0.3,
      0.7, 0.2).count()
    assert(total == curated)
  }

  test("fluency gate drops the highest-perplexity fraction per source") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    val base = TrainingDataJob.assemble(docs, lang = "en", minQuality = 0.3,
      jaccard = 0.7, holdout = 0.2, budget = 100000L,
      ctxLen = 128, nShards = 4)
    val gated = TrainingDataJob.assemble(docs, lang = "en", minQuality = 0.3,
      jaccard = 0.7, holdout = 0.2, budget = 100000L,
      ctxLen = 128, nShards = 4, nllDropFrac = 0.25)
    val nBase = base.train.count()
    val nGated = gated.train.count()
    assert(nGated < nBase, s"gate dropped nothing ($nBase -> $nGated)")
    // survivors are a subset of the ungated train set, and within each
    // source the drop is at most the requested fraction of that
    // stratum (percent_rank cut: >= frac survives)
    assert(gated.train.join(base.train, Seq("doc_id"), "left_anti")
      .count() == 0)
    val perSource = base.train.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    gated.train.groupBy("source").count().collect().foreach { r =>
      val kept = r.getLong(1); val all = perSource(r.getString(0))
      assert(kept >= all - math.ceil(all * 0.25).toLong - 1,
        s"source ${r.getString(0)}: kept $kept of $all")
    }
    graft.core.PipelineCaches.unpersistAll()
  }

  test("c4 + line-dedup + model-gate + group-split stages compose and are deterministic") {
    import spark.implicits._
    // the synthetic corpus has no sentence punctuation; the same
    // transform the line-dedup gate uses manufactures lines that can
    // survive the C4 rules
    // the Gopher stopword rule needs >= 2 of its stopword list; the
    // synthetic vocabulary only carries "the", so every doc gets one
    // shared stopword-bearing closing line (which also exercises the
    // corpus-wide line dedup: it survives in exactly one document)
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select(col("doc_id"),
        expr("concat(replace(text, 'table', concat('.', chr(10))), " +
          "chr(10), 'they have to be of and with that same mind.')").as("text"),
        col("lang"), col("source"))
    val stages = TrainingDataJob.Stages(c4Clean = true, lineDedup = true,
      modelGate = 0.1, evalReport = true, keepBestRep = true,
      groupSplit = true)
    def run() = TrainingDataJob.assemble(docs, lang = "en",
      minQuality = 0.3, jaccard = 0.7, holdout = 0.2, budget = 1000000L,
      ctxLen = 128, nShards = 4, stages = stages)
    val r = run()
    val train = r.train.select("doc_id", "text").as[(Long, String)].collect()
    val holdout = r.holdout.select("doc_id", "text").as[(Long, String)].collect()
    assert(train.nonEmpty, "stages annihilated the train split")
    assert(train.map(_._1).toSet.intersect(holdout.map(_._1).toSet).isEmpty)

    // c4 invariant: every surviving line ends in sentence punctuation
    // with >= 3 words (the cleaning ran BEFORE everything downstream)
    val allLines = (train ++ holdout).flatMap(_._2.split("\n"))
    allLines.foreach { l =>
      assert(l.matches(".*[.!?\"']\\s*$"), s"unclean line survived: '$l'")
      assert(l.trim.split("\\s+").length >= 3, s"short line survived: '$l'")
    }
    // line-dedup invariant: no non-blank line appears twice anywhere
    // in the curated corpus (dedup ran corpus-wide before curation)
    val nonBlank = allLines.filter(_.trim.nonEmpty)
    assert(nonBlank.length == nonBlank.distinct.length,
      "duplicate line survived corpus-wide line dedup")
    // eval report: well-formed metrics over both label classes (the
    // 3-iteration model on this tiny mutated corpus is deliberately
    // weak, so no better-than-chance claim — that's exactly what the
    // report exists to surface)
    val ev = r.modelEval.getOrElse(fail("evalReport stage emitted nothing"))
      .head()
    val auc = ev.getAs[Double]("auc")
    val ap = ev.getAs[Double]("ap")
    assert(auc >= 0.0 && auc <= 1.0, s"gate model AUC $auc")
    assert(ap > 0.0 && ap <= 1.0, s"gate model AP $ap")
    assert(ev.getAs[Long]("n_pos") > 0 && ev.getAs[Long]("n_neg") > 0)
    // every stage is deterministic: a second assembly is identical,
    // including the eval report
    val r2 = run()
    assert(r2.train.select("doc_id").as[Long].collect().sorted.toSeq ==
      train.map(_._1).sorted.toSeq)
    assert(r2.modelEval.get.head().getAs[Double]("auc") == auc)
    graft.core.PipelineCaches.unpersistAll()
  }

  test("keep-best representative + cluster-keyed split in prepare") {
    import spark.implicits._
    // near-dup pair: 1 has lower id, 2 has higher heuristic quality
    // (1's punctuation soup lowers its punct component). Default rule
    // keeps min-id 1; keepBestRep must keep 2 instead.
    val base = ("the quick brown fox jumps over the lazy dog near the " +
      "river and then runs far away into the quiet green forest ") * 5
    // punct ratio ≈ 0.31 > 0.2 ⇒ quality 0.9 vs the clean copy's 1.0;
    // the soup normalizes away in shingling, so Jaccard stays ≈ 0.96
    val noisy = base.take(base.length - 10) + " !!! ### $$$ %%% &&& *** ((( ))) @@@ ^^^ ~~~ ``` " * 8
    val single = ("spark engines read parquet files in parallel across " +
      "many executors and shuffle hash partitioned rows between stages ") * 5
    val docs = Seq((1L, noisy, "en", "s0"), (2L, base, "en", "s0"),
      (3L, single, "en", "s1")).toDF("doc_id", "text", "lang", "source")
    val byId = graft.examples.CorpusPrepJob.prepare(docs, "en", 0.0, 0.5, 0.2)
      .select("doc_id").as[Long].collect().toSet
    val byQuality = graft.examples.CorpusPrepJob.prepare(docs, "en", 0.0, 0.5, 0.2,
      keepBestRep = true).select("doc_id").as[Long].collect().toSet
    assert(byId.contains(1L) && !byId.contains(2L),
      s"default rule should keep min-id: $byId")
    assert(byQuality.contains(2L) && !byQuality.contains(1L),
      s"keepBestRep should keep the higher-quality member: $byQuality")
    // groupSplit: the surviving representative's split must equal the
    // deterministic cluster-hash assignment (cluster = min member id)
    val withSplit = graft.examples.CorpusPrepJob.prepare(docs, "en", 0.0, 0.5, 0.2,
      keepBestRep = true, groupSplit = true)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val expected = graft.ml.Corpus.splitByGroup(
        Seq(1L, 3L).toDF("cluster"), "cluster",
        Seq("train" -> 0.8, "holdout" -> 0.2))
      .select("cluster", "split").as[(Long, String)].collect().toMap
    assert(withSplit(2L) == expected(1L), "rep must inherit its cluster's split")
    assert(withSplit(3L) == expected(3L))
    graft.core.PipelineCaches.unpersistAll()
  }

  test("span-dedup stage cuts cross-document duplicated spans before curation") {
    import spark.implicits._
    // two docs sharing one long boilerplate span inside otherwise
    // unrelated English text (Jaccard stays far below 0.7, so both
    // survive near-dup dedup and the span must be cut, not the docs),
    // plus an untouched control doc
    val shared = "this content is provided for informational purposes " +
      "only and does not constitute professional advice of any kind " +
      "please consult a qualified expert before acting on it"
    val a = "the morning train to the city was crowded and slow while " +
      "commuters read their papers in the pale light of early winter " +
      shared + " the station clock showed seven and the platform was wet"
    val b = "a small garden behind the house grew tomatoes and beans " +
      "through the long summer months with very little watering needed " +
      shared + " the fence kept most of the rabbits away from the rows"
    val c = "deep in the library the old maps were kept in flat drawers " +
      "and the archivist catalogued each one with a numbered card and " +
      "a note about its provenance and the century of its making there"
    val docs = Seq((1L, a, "en", "s0"), (2L, b, "en", "s0"),
      (3L, c, "en", "s1")).toDF("doc_id", "text", "lang", "source")

    def run(span: Boolean) = TrainingDataJob.assemble(docs, lang = "en",
      minQuality = 0.0, jaccard = 0.7, holdout = 0.2, budget = 1000000L,
      ctxLen = 128, nShards = 2,
      stages = TrainingDataJob.Stages(spanDedup = span))
    def texts(r: TrainingDataJob.Assembled): Map[Long, String] =
      (r.train.select("doc_id", "text").as[(Long, String)].collect() ++
        r.holdout.select("doc_id", "text").as[(Long, String)].collect()).toMap

    val without = texts(run(span = false))
    assert(without.values.count(_.contains(shared)) == 2,
      "differential baseline: span present in both docs when the stage is off")

    val withSpan = texts(run(span = true))
    assert(withSpan.keySet == Set(1L, 2L, 3L), s"docs lost: ${withSpan.keySet}")
    // the duplicated span is gone from every surviving document; the
    // find side has <= k-1 tokens of envelope slack at each edge, so
    // assert on an interior core of the span
    val core = shared.split(" ").slice(7, 21).mkString(" ")
    withSpan.foreach { case (id, t) =>
      assert(!t.contains(core), s"doc $id still carries the duplicated span")
    }
    // unique content survives the cut (re-tokenized: normalized tokens
    // joined by single spaces)
    assert(withSpan(1L).contains("the morning train to the city"))
    assert(withSpan(2L).contains("a small garden behind the house"))
    assert(withSpan(3L).contains("deep in the library the old maps"))
    graft.core.PipelineCaches.unpersistAll()
  }

  test("epoch-cap mix upsamples every source maxEpochs times under a loose budget") {
    import spark.implicits._
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    val sources = docs.select("source").distinct().as[String].collect()
    val w = sources.map(_ -> 1.0 / sources.length).toMap
    val r = TrainingDataJob.assemble(docs, lang = "en", minQuality = 0.3,
      jaccard = 0.7, holdout = 0.2, budget = 1000000000L, ctxLen = 128,
      nShards = 4, stages = TrainingDataJob.Stages(
        epochWeights = w, maxEpochs = 2))
    val rows = r.train.select("doc_id", "epoch", "n_epochs")
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // budget >> corpus: every doc replays exactly maxEpochs times
    assert(rows.forall(_._3 == 2L), s"n_epochs: ${rows.map(_._3).distinct.toSeq}")
    rows.groupBy(_._1).foreach { case (id, rs) =>
      assert(rs.map(_._2).sorted.toSeq == Seq(1L, 2L), s"epochs for $id: ${rs.toSeq}")
    }
    // the manifest packs one entry per (doc, epoch) under composite ids
    val manifestDocs = r.manifest
      .select(explode(split(col("doc_ids"), ","))).as[String].collect()
    assert(manifestDocs.length == rows.length)
    val decoded = manifestDocs.map(_.toLong).map(c => (c / 3L, c % 3L)).toSet
    assert(decoded == rows.map(t => (t._1, t._2)).toSet)
    graft.core.PipelineCaches.unpersistAll()
  }

  test("tokenize stage: every train doc encoded to ids, lossless, dense vocab") {
    import spark.implicits._
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    for (tok <- Seq("unigram", "bpe")) {
      val r = TrainingDataJob.assemble(docs, lang = "en", minQuality = 0.3,
        jaccard = 0.7, holdout = 0.2, budget = 100000L, ctxLen = 128,
        nShards = 4, stages = TrainingDataJob.Stages(
          tokenizer = tok, vocabSize = 64))
      val vocab = r.vocab.get.collect()
        .map(row => row.getInt(0) -> row.getString(1)).toMap
      // ids are dense 0..V-1 and pieces unique
      assert(vocab.keySet == (0 until vocab.size).toSet, s"$tok vocab ids")
      assert(vocab.values.toSeq.distinct.size == vocab.size)
      val tokens = r.tokens.get
        .select(col("doc_id"), col("token_ids"))
        .as[(Long, Seq[Int])].collect().toMap
      val trainText = r.train.select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().toMap
      // one tokens row per unique train doc
      assert(tokens.keySet == trainText.keySet, s"$tok doc coverage")
      // decoding ids through the vocab reproduces the normalized text
      trainText.foreach { case (id, text) =>
        val norm = text.toLowerCase(java.util.Locale.ROOT)
          .split("\\s+").filter(_.nonEmpty).mkString("")
        val detok = tokens(id).map(vocab).mkString("")
          .replace(graft.ml.Bpe.Eow, "")
        assert(detok == norm, s"$tok round-trip for doc $id")
      }
      graft.core.PipelineCaches.unpersistAll()
    }
    // unknown tokenizer name is rejected
    intercept[IllegalArgumentException] {
      TrainingDataJob.assemble(docs, lang = "en", minQuality = 0.3,
        jaccard = 0.7, holdout = 0.2, budget = 100000L, ctxLen = 128,
        nShards = 4, stages = TrainingDataJob.Stages(tokenizer = "wordpiece"))
    }
    graft.core.PipelineCaches.unpersistAll()
  }

  test("whole-doc packing mode: every doc intact in one bin, bins within ctx") {
    import spark.implicits._
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    val ctx = 128
    val r = TrainingDataJob.assemble(docs, lang = "en", minQuality = 0.3,
      jaccard = 0.7, holdout = 0.2, budget = 100000L, ctxLen = ctx,
      nShards = 4, stages = TrainingDataJob.Stages(packing = "whole"))

    val trainIds = r.train.select("doc_id").as[Long].collect().toSet
    // same manifest schema as chunk mode, plus the fill column
    assert(r.manifest.columns.toSet ==
      Set("shard", "seq_id", "n_docs", "fill", "doc_ids"))
    val rows = r.manifest
      .select(col("n_docs"), col("fill"), col("doc_ids"))
      .as[(Long, Long, String)].collect()
    val manifestDocs = rows.flatMap(_._3.split(",").map(_.toLong))
    // every mixed doc in exactly one bin, nothing invented
    assert(manifestDocs.length == manifestDocs.distinct.length)
    assert(manifestDocs.toSet == trainIds)
    // no multi-doc bin exceeds the context window (a lone oversize
    // doc may — flagged for downstream truncation)
    rows.foreach { case (nDocs, fill, ids) =>
      assert(nDocs == ids.split(",").length.toLong)
      if (nDocs > 1) assert(fill <= ctx, s"overfull bin: $ids ($fill)")
    }
    // rejected mode name
    intercept[IllegalArgumentException] {
      TrainingDataJob.assemble(docs, lang = "en", minQuality = 0.3,
        jaccard = 0.7, holdout = 0.2, budget = 100000L, ctxLen = ctx,
        nShards = 4, stages = TrainingDataJob.Stages(packing = "nextfit"))
    }
    graft.core.PipelineCaches.unpersistAll()
  }

  test("mixOrdered: budget takes the best-quality docs per source") {
    import spark.implicits._
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    val tight = 600L
    val base = TrainingDataJob.assemble(docs, lang = "en",
      minQuality = 0.3, jaccard = 0.7, holdout = 0.2, budget = tight,
      ctxLen = 128, nShards = 4)
    val ordered = TrainingDataJob.assemble(docs, lang = "en",
      minQuality = 0.3, jaccard = 0.7, holdout = 0.2, budget = tight,
      ctxLen = 128, nShards = 4,
      stages = TrainingDataJob.Stages(mixOrdered = true))
    // both respect the budget
    assert(ordered.train.filter(col("cum_tokens") > tight).count() == 0)
    // the ordered mix's mean selected quality is at least the
    // hash-random mix's (it is the greedy argmax under the budget)
    def meanQ(df: org.apache.spark.sql.DataFrame) =
      df.agg(avg("quality")).head().getDouble(0)
    assert(meanQ(ordered.train) >= meanQ(base.train) - 1e-9,
      s"${meanQ(ordered.train)} vs ${meanQ(base.train)}")
    // within each source, no unselected doc has strictly higher
    // quality than a selected one unless adding it would overflow --
    // check the simpler dominance property on a sample source:
    // selected docs are a prefix of the quality-desc order
    graft.core.PipelineCaches.unpersistAll()
  }

  test("sortish stage: bucket/key columns match the standalone operator") {
    import spark.implicits._
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    val cuts = Seq(16.0, 48.0)
    val r = TrainingDataJob.assemble(docs, lang = "en", minQuality = 0.3,
      jaccard = 0.7, holdout = 0.2, budget = 100000L, ctxLen = 128,
      nShards = 4,
      stages = TrainingDataJob.Stages(sortishCutoffs = cuts, sortishSalt = 3L))
    val train = r.train
    assert(train.columns.contains("bucket") &&
      train.columns.contains("sort_key"))
    // bucket respects the frozen cutoffs, keys replay the md5 rule
    val rows = train.select("doc_id", "n_tokens", "bucket", "sort_key")
      .collect()
    assert(rows.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { row =>
      val (id, nt, b, k) = (row.getLong(0),
        row.getAs[Number]("n_tokens").longValue,
        row.getLong(2), row.getString(3))
      val expB = 1 + cuts.count(nt > _)
      assert(b == expB, s"doc $id: bucket $b vs $expB for $nt tokens")
      val expK = md.digest(s"3:$id".getBytes("UTF-8"))
        .map(x => f"$x%02x").mkString
      assert(k == expK)
    }
    graft.core.PipelineCaches.unpersistAll()
  }
}
