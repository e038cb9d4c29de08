package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GraftSession

/** Persisted inverted index + BM25 retrieval — the lexical twin of
  * the vector index ([[Pq]]/EmbeddingIndexJob): build once into a
  * term-bucketed parquet layout, then answer keyword queries reading
  * ONLY the buckets the query terms hash to.
  *
  * Layout under `dir`:
  *  - `postings/` — (tk, doc_id, tf, dl) partitioned by
  *    `bucket = pmod(xxhash64(tk), nBuckets)`; a query for m terms
  *    touches ≤ m of the nBuckets partition directories (directory
  *    pruning, audited in the spec) and the in-partition `tk` filter
  *    rides the parquet scan.
  *  - `stats/` — one row (n_docs, sum_dl) for the BM25 length norm.
  *
  * Document frequencies are NOT stored: for the handful of query
  * terms they are recounted exactly from the pruned postings read —
  * one tiny aggregate against data already in hand, and the index
  * never goes stale against its own postings.
  *
  * Scoring matches [[TextAnalysis.bm25]] exactly (same tokenizer,
  * same Lucene-default idf/k1/b formula), so the index path is
  * oracle-checked against the same SQL as the in-memory path.
  */
object TextIndex {

  private def bucketOf(tk: org.apache.spark.sql.Column, nBuckets: Int) =
    pmod(xxhash64(tk), lit(nBuckets.toLong))

  /** Tokenize, count term frequencies and write the index layout.
    * One corpus scan + one (doc, term) aggregate; the write is
    * partitioned by term bucket so queries prune directories.
    */
  def build(docs: DataFrame, idCol: String, textCol: String,
      dir: String, nBuckets: Int = 16): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    val toks = split(TextAnalysis.normalize(col(textCol)), " ")
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      size(toks).cast("long").as("dl"), toks.as("tks"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("tks")).as("tk"))
      .filter(length(col("tk")) > 0)
      .groupBy("doc_id", "dl", "tk").agg(count(lit(1)).cast("long").as("tf"))
    tf.withColumn("bucket", bucketOf(col("tk"), nBuckets))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/postings")
    base.agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("dl")).cast("long").as("sum_dl"))
      .write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** Incremental append: add a delta of NEW documents to a built
    * index — postings for the delta append into their bucket
    * directories (no rewrite of existing files) and the one-row
    * stats table advances by the delta's (n_docs, sum_dl) monoid.
    * Because [[query]] recounts df from the postings it reads, an
    * appended index answers exactly like a full rebuild — proven in
    * the spec. Caller contract: delta doc_ids are new (dedup them
    * upstream with the incremental-dedup machinery).
    */
  def append(delta: DataFrame, idCol: String, textCol: String,
      dir: String, nBuckets: Int = 16): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    val spark = delta.sparkSession
    val toks = split(TextAnalysis.normalize(col(textCol)), " ")
    val base = delta.select(col(idCol).cast("long").as("doc_id"),
      size(toks).cast("long").as("dl"), toks.as("tks"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("tks")).as("tk"))
      .filter(length(col("tk")) > 0)
      .groupBy("doc_id", "dl", "tk").agg(count(lit(1)).cast("long").as("tf"))
    tf.withColumn("bucket", bucketOf(col("tk"), nBuckets))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$dir/postings")
    val deltaStats = base.agg(
      count(lit(1)).cast("long").as("n_docs"),
      sum(col("dl")).cast("long").as("sum_dl")).head()
    val old = GraftSession.readParquet(spark, s"$dir/stats").head()
    import spark.implicits._
    val merged = Seq((old.getLong(0) + deltaStats.getLong(0),
      old.getLong(1) + deltaStats.getLong(1)))
      .toDF("n_docs", "sum_dl")
    // write-then-swap: parquet can't overwrite its own input in place
    val tmp = s"$dir/stats_next"
    merged.write.mode("overwrite").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val statsPath = new org.apache.hadoop.fs.Path(s"$dir/stats")
    fs.delete(statsPath, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), statsPath)
    ()
  }

  /** BM25 top-k against a built index: reads only the query terms'
    * buckets, recounts df on the pruned read, scores with the
    * Lucene-default formula. Output (doc_id, bm25), score-descending
    * top-k with doc_id tie-break.
    */
  def query(spark: SparkSession, dir: String, terms: Seq[String],
      nBuckets: Int = 16, k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 10): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    import spark.implicits._
    // the terms' buckets, via the same engine hash the build used
    val buckets = terms.toDF("tk")
      .select(bucketOf(col("tk"), nBuckets).as("bucket"))
      .distinct().as[Long].collect().toSeq
    val postings = GraftSession.readParquet(spark, s"$dir/postings")
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("tk").isin(terms: _*))
    val stats = GraftSession.readParquet(spark, s"$dir/stats")
    val dfreq = postings.groupBy("tk").agg(count(lit(1)).cast("long").as("df"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    postings.join(broadcast(dfreq), "tk")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("w", col("idf") * col("tf") * (k1 + 1) /
        (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl)))
      .groupBy("doc_id")
      .agg((floor(sum("w") * 1e6 + 0.5) / 1e6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
  }

  /** Exact phrase search over positional postings: occurrences of
    * `phrase` as CONSECUTIVE tokens. The position-join formulation —
    * anchor on the first term's postings, then one (doc, pos−i)
    * equi-join per remaining term — is how positional inverted
    * indexes answer phrase queries without ever re-reading text.
    * Returns (doc_id, n_hits, first_pos) per matching document.
    *
    * Scale shape: the posting stream is filtered to the phrase's own
    * terms BEFORE any join (the pushed-down predicate is the whole
    * point — a phrase touches |phrase| postings lists, not the
    * corpus), and every join is a (doc_id, pos) hash equi-join.
    */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val toks = split(TextAnalysis.normalize(col(textCol)), " ")
    val pos = graft.core.PipelineCaches.persistTracked(
      docs.select(col(idCol).cast("long").as("doc_id"), toks.as("tks"))
        .select(col("doc_id"),
          posexplode(col("tks")).as(Seq("pos", "tk")))
        .filter(col("tk").isin(phrase.distinct: _*)))
    val anchor = pos.filter(col("tk") === phrase.head)
      .select(col("doc_id"), col("pos"))
    val hits = phrase.zipWithIndex.tail.foldLeft(anchor) {
      case (acc, (term, i)) =>
        acc.join(pos.filter(col("tk") === term)
            .select(col("doc_id"), (col("pos") - i).as("pos")),
          Seq("doc_id", "pos"))
    }
    hits.groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"),
        min("pos").cast("long").as("first_pos"))
  }

  /** Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    * Lafferty 2001) — the language-modeling counterpart to BM25:
    * score(q, d) = Σ_{t∈q} ln((tf_{t,d} + μ·P(t|C)) / (dl_d + μ)),
    * P(t|C) the collection unigram model. Candidates are documents
    * matching ≥ 1 query term (the standard inverted-index contract —
    * a no-hit document's pure-smoothing score ranks below every
    * candidate for any query it shares no term with at equal dl);
    * ABSENT query terms still contribute their smoothing mass via
    * the candidate × term grid, so scores are the true QL values.
    * Returns top-k (doc_id, ql) with doc_id tie-break.
    *
    * Scale shape: term frequencies are filtered to the query's own
    * terms BEFORE aggregation (|terms| postings lists, never the
    * corpus); collection stats are two 1-row/|terms|-row broadcasts;
    * the grid multiplies the CANDIDATE table by |terms|.
    */
  def queryLikelihood(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], mu: Double = 1000.0,
      topK: Int = 10): DataFrame = {
    require(terms.nonEmpty && mu > 0 && topK >= 1)
    val qts = terms.distinct
    val toks = split(TextAnalysis.normalize(col(textCol)), " ")
    // the exploded token stream is deliberately RECOMPUTED, never
    // persisted (corpus-sized; the round-2 postmortem: caching it
    // costs more than the narrow codegen'd re-scan) — and the only
    // full-width pass is the 1-row token total; everything else
    // reduces on the term-filtered stream first
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
        size(toks).cast("long").as("dl"),
        explode(toks).as("tk"))
      .filter(length(col("tk")) > 0)
    val ctot = base.agg(count(lit(1)).cast("double").as("c_tokens"))
    val tf = graft.core.PipelineCaches.persistTracked(
      base.filter(col("tk").isin(qts: _*))
        .groupBy("doc_id", "dl", "tk")
        .agg(count(lit(1)).cast("double").as("tf")))
    // collection term counts fold off the tf table — no second
    // corpus pass
    val cf = tf.groupBy("tk").agg(sum("tf").as("cf"))
    val spark = docs.sparkSession
    import spark.implicits._
    val termDf = qts.toDF("tk")
      .join(cf, Seq("tk"), "left")
      .na.fill(0.0, Seq("cf")) // a term absent from the corpus
    val cand = tf.select("doc_id", "dl").distinct()
    val grid = cand.crossJoin(broadcast(termDf))
      .join(tf, Seq("doc_id", "dl", "tk"), "left")
      .na.fill(0.0, Seq("tf"))
      .crossJoin(broadcast(ctot))
    val scored = grid
      // an OOV query term (cf = 0 everywhere) has P(t|C) = 0 → every
      // document scores −∞ on it equally; drop it (standard QL
      // practice) instead of letting ln(0) poison the sum
      .filter(col("cf") > 0 || col("tf") > 0)
      .select(col("doc_id"),
        log((col("tf") + lit(mu) * (col("cf") / col("c_tokens"))) /
          (col("dl") + mu)).as("lt"))
      .groupBy("doc_id").agg(sum("lt").as("ql"))
    scored.orderBy(col("ql").desc, col("doc_id")).limit(topK)
  }
}
