package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Lineage

/** Unsupervised keyword extraction — the corpus-curation primitives
  * for topic tagging, domain profiling, and prompt-mining over a
  * crawl. Two standard algorithms, both expressed as hash
  * aggregations and key joins (no per-doc python, no quadratics):
  *
  *  - RAKE (Rose et al. 2010): stopword-delimited candidate phrases
  *    scored by member-word degree/frequency ratios. Per document.
  *  - TextRank (Mihalcea & Tarau 2004) in its corpus-level form:
  *    PageRank over the window-2 word co-occurrence graph — word
  *    salience for the whole corpus (or any stratum via groupCols on
  *    the caller's side).
  */
object Keywords {

  /** Vocabulary-count ceiling under which textRank's per-iteration
    * rank-vector joins use a broadcast hint; above it the plan falls
    * to a shuffled-hash join (identical results). 10M words ≈ a few
    * hundred MB broadcast — comfortably inside the 8 GB / 512M-row
    * relation cap with headroom; a 100 TB-corpus Heaps-law vocabulary
    * (10^8-10^9) must not be broadcast 10 times per run. Env-tunable
    * for clusters with bigger drivers.
    */
  val defaultBroadcastMaxVocab: Long =
    sys.env.getOrElse("SPARK_GRAFT_TEXTRANK_BCAST_MAX", "10000000").toLong

  private def toks(c: Column): Column =
    filter(split(TextAnalysis.normalize(c), " "), t => length(t) > 0)

  /** RAKE candidate phrases and scores, per document.
    *
    * Tokens are normalized words; stopwords ([[TextAnalysis
    * .stopwords]], the repo-wide list) delimit phrases; maximal
    * non-stopword runs of length ≤ maxPhraseLen become candidates.
    * Word statistics over the document's candidate set:
    * freq(w) = number of candidate phrases containing w (counted per
    * occurrence), deg(w) = Σ over those phrases of the phrase length
    * (the common python-rake convention where a word's own
    * occurrence counts toward its degree); score(w) = deg(w) /
    * freq(w); phrase score = Σ member-word scores (per occurrence).
    * Returns (id, phrase, n_words, score) — every candidate phrase
    * occurrence collapsed to its distinct text per doc, scores from
    * doc-level word stats.
    *
    * Shape: posexplode → islands-by-position grouping (one window
    * over (id, pos)) → two hash aggregations + one (id, word) join.
    */
  def rake(df: DataFrame, idCol: String, textCol: String,
      maxPhraseLen: Int = 4): DataFrame = {
    require(maxPhraseLen >= 1)
    val sw = TextAnalysis.stopwords
    val words = df
      .select(col(idCol).as("id"), posexplode(toks(col(textCol)))
        .as(Seq("pos", "word")))
      .withColumn("stop", col("word").isInCollection(sw))
    // islands: consecutive non-stopword positions share (pos − rank)
    val isl = Window.partitionBy("id").orderBy("pos")
    val phrases = words.filter(!col("stop"))
      .withColumn("grp", col("pos") - row_number().over(isl))
      .groupBy("id", "grp")
      .agg(sort_array(collect_list(struct(col("pos"), col("word"))))
        .as("ws"))
      .select(col("id"),
        transform(col("ws"), w => w.getField("word")).as("ws"))
      .filter(size(col("ws")) <= maxPhraseLen)
      .select(col("id"), col("ws"), size(col("ws")).as("len"),
        array_join(col("ws"), " ").as("phrase"))
    val wordStats = phrases
      .select(col("id"), col("len"), explode(col("ws")).as("word"))
      .groupBy("id", "word")
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .withColumn("wscore", col("deg").cast("double") / col("freq"))
    phrases
      .select(col("id"), col("phrase"), col("len"),
        explode(col("ws")).as("word"))
      .join(wordStats.select("id", "word", "wscore"), Seq("id", "word"))
      .groupBy("id", "phrase")
      // phrase occurrences are identical score-wise; count each
      // distinct phrase text once via the occurrence count divisor
      .agg((sum(col("wscore")) /
          (count(lit(1)) / first(col("len")))).as("score"),
        first(col("len")).cast("long").as("n_words"))
      .select(col("id"), col("phrase"), col("n_words"), col("score"))
  }

  /** Corpus-level TextRank: PageRank (damping d, `iters` fixed
    * iterations from the uniform vector) over the undirected
    * window-2 co-occurrence graph of non-stopword tokens, edge
    * weight = co-occurrence count. Transition mass from u to v is
    * w(u,v)/wdeg(u); isolated words keep the teleport floor
    * (1−d)/N; dangling mass is NOT redistributed (the standard
    * simplified TextRank recursion — document-replayable in plain
    * SQL). Returns (word, score) for the whole vocabulary.
    *
    * Shape: adjacent pairs are read straight off each document's
    * token array (two slices zipped — no positional self-join: the
    * old form shuffled the exploded token table twice and joined on
    * (doc, pos+1)), both orientations of each pair leave ONE pass via
    * a 2-element explode (a union of the pair stream with its swap
    * would evaluate the tokenize+pair subtree twice); each iteration
    * is one broadcast of the vocabulary-sized rank vector against the
    * cached edge table + one vocabulary-sized aggregation — the rank
    * vector is the side that must travel, never the edges (the old
    * form broadcast the EDGE table every iteration and sort-merged
    * the vocabulary join).
    */
  def textRank(df: DataFrame, idCol: String, textCol: String,
      damping: Double = 0.85, iters: Int = 10,
      broadcastMaxVocab: Long = Keywords.defaultBroadcastMaxVocab)
      : DataFrame = {
    require(iters >= 1 && damping > 0 && damping < 1)
    val sw = TextAnalysis.stopwords
    val docs = df.select(
      filter(toks(col(textCol)), t => !t.isInCollection(sw)).as("ws"))
    // adjacent non-stop tokens (window 2 after stopword removal),
    // both orientations in one generator pass
    val und = docs
      .select(explode(arrays_zip(
        slice(col("ws"), lit(1), greatest(size(col("ws")) - 1, lit(0)))
          .as("u"),
        slice(col("ws"), lit(2), greatest(size(col("ws")) - 1, lit(0)))
          .as("v"))).as("bp"))
      .select(col("bp.u").as("u"), col("bp.v").as("v"))
      .filter(col("u") =!= col("v"))
      .select(explode(array(struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).cast("double").as("w"))
    // tracked pipeline caches: the vocab and transition tables are read
    // by every iteration's join. Caller drops the caches (and the
    // iterate's cut) via PipelineCaches.unpersistAll once the result is
    // consumed.
    val vocab = graft.core.PipelineCaches.persistTracked(
      docs.select(explode(col("ws")).as("word")).distinct())
    val n = vocab.count()
    val wdeg = und.groupBy("u").agg(sum("w").as("wd"))
    val trans = graft.core.PipelineCaches.persistTracked(
      und.join(wdeg, "u")
        .select(col("u"), col("v"), (col("w") / col("wd")).as("t")))
    val base = 1.0 / n
    val floor = (1.0 - damping) / n
    val pr0 = vocab.select(col("word"), lit(base).as("score"))
    // the |V|-sized rank vector and mass table carry an explicit join
    // strategy every iteration, picked from the measured vocab count.
    // Below the gate broadcast is the cheapest; above it a broadcast
    // of a Heaps-law vocabulary (10^8-10^9 words at corpus scale)
    // would blow the 8 GB broadcast ceiling and the driver, so fall to
    // a shuffled-hash join with the rank vector as the build side —
    // same results, all-exchange plan.
    def vecHint(d: DataFrame): DataFrame =
      if (n <= broadcastMaxVocab) broadcast(d) else d.hint("shuffle_hash")
    // each iterate is cut (its LOGICAL plan truncated): a lazily-
    // composed 10-join DAG benched 7.4 s and a persist+count (plan
    // still grows) 16.5 s vs ~4 s with real per-iteration truncation —
    // Catalyst re-analysis of the growing chain, not execution, is the
    // cost
    Lineage.iterate(pr0, iters) { pr =>
      val inbound = trans.join(vecHint(pr), trans("u") === pr("word"))
        .groupBy(col("v").as("word"))
        .agg(sum(col("t") * col("score")).as("mass"))
      vocab.join(vecHint(inbound), Seq("word"), "left")
        .select(col("word"),
          (lit(floor) + lit(damping) * coalesce(col("mass"), lit(0.0)))
            .as("score"))
    }((_, _) => false)
  }
}
