package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.PipelineCaches
import graft.ml.Dedup

/** Engine-side sf0.1 self-consistency for the 10 gate queries whose
  * DuckDB ORACLES are quadratic all-pairs / recursive-CTE SQL and so
  * only run at sf0.01 (q_dedup_minhash / components / components_star
  * / incremental / ngram_jaccard / semantic / keep_best /
  * keep_best_quality, q_embed_neardup, q_matrix_gram_dimsum — the
  * DuckDB-side cost, not an engine limit). Each operator's 10×-scale
  * behavior is pinned here WITHOUT an external oracle, by invariants
  * that are strong on their own terms: exact recomputation of
  * reported scores, planted-duplicate completeness, cross-ALGORITHM
  * equality (two independent implementations must agree), and the
  * self-verifying contract queries' own booleans.
  */
class ScaleInvariantsSpec extends SparkSpec {

  private val dir = sf("sf0.1")

  /** DedupQueries.augmented replicated: originals ∪ exact copies
    * (every 10th, +1e6) ∪ 90%-prefix near-copies (every 7th, +2e6).
    */
  private def augmented(s: SparkSession): DataFrame = {
    val d = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    val exact = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
        col("lang"), col("source"))
    val prefix = d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        substring(col("text"), 1, 10000).substr(lit(1),
          floor(length(col("text")) * 0.9).cast("int")).as("text"),
        col("lang"), col("source"))
    d.unionByName(exact).unionByName(prefix)
  }

  /** Exact 2-word-shingle Jaccard recomputed driver-side from raw
    * text — the independent check against the engine's hashed-shingle
    * pipeline.
    */
  private def exactJaccard(t1: String, t2: String): Double = {
    def sh(t: String): Set[String] = {
      val w = Dedup.MinHashUtil.normalize(t).split(" ").filter(_.nonEmpty)
      if (w.length < 2) w.toSet
      else w.sliding(2).map(_.mkString(" ")).toSet
    }
    val (a, b) = (sh(t1), sh(t2))
    if (a.isEmpty && b.isEmpty) 0.0
    else a.intersect(b).size.toDouble / a.union(b).size
  }

  // shared across tests: the sf0.1 near-dup discovery output
  private lazy val aug = augmented(spark).cache()
  private lazy val minhashPairs: Seq[(Long, Long, Double)] =
    Dedup.minHashNearDuplicates(aug, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("minhash at sf0.1: thresholds hold, planted copies complete, scores exact") {
    val pairs = minhashPairs
    assert(pairs.nonEmpty)
    // structural: id1 < id2, no duplicate pairs, threshold respected
    assert(pairs.forall { case (a, b, _) => a < b })
    assert(pairs.map(p => (p._1, p._2)).distinct.size == pairs.size)
    assert(pairs.forall(_._3 >= 0.7 - 1e-9),
      s"sub-threshold pair: ${pairs.filter(_._3 < 0.7 - 1e-9).take(3)}")
    // completeness: every planted exact copy of a shingle-bearing doc
    // must be recovered at jaccard 1.0 (identical signatures always
    // bucket-collide)
    val withText = aug.filter(col("doc_id") < 1000000L && col("doc_id") % 10 === 0)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .filter { case (_, t) =>
        Dedup.MinHashUtil.normalize(t).split(" ").count(_.nonEmpty) >= 2 }
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    val missing = withText.filterNot { case (id, _) =>
      pairSet.contains((id, id + 1000000L)) }
    assert(missing.isEmpty,
      s"${missing.size} exact copies missed (of ${withText.size}): ${missing.take(3).map(_._1)}")
    // exactness: recompute true Jaccard from raw text for a sample
    val sample = pairs.take(15) ++ pairs.takeRight(15)
    val ids = sample.flatMap(p => Seq(p._1, p._2)).distinct
    val texts = aug.filter(col("doc_id").isin(ids: _*))
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    sample.foreach { case (a, b, j) =>
      val exact = exactJaccard(texts(a), texts(b))
      assert(math.abs(exact - j) < 1e-9,
        s"pair ($a,$b): engine $j vs exact $exact")
    }
  }

  test("components at sf0.1: label-prop and large/small-star agree, labels consistent and idempotent") {
    import spark.implicits._
    val pairsDf = minhashPairs.map(p => (p._1, p._2)).toDF("id1", "id2")
    val a = Dedup.connectedComponents(pairsDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Dedup.connectedComponentsStar(pairsDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, s"labelings diverge on ${a.toSet.diff(b.toSet).take(5)}")
    // consistency: both endpoints of every pair share a label; the
    // label is the cluster minimum (canonical representative)
    minhashPairs.foreach { case (x, y, _) =>
      assert(a(x) == a(y), s"pair ($x,$y) split across components")
    }
    a.groupBy(_._2).foreach { case (label, members) =>
      assert(members.keys.min == label,
        s"component $label is not its cluster min ${members.keys.min}")
    }
    // idempotence: relabeling the collapsed (id, component) star edges
    // reproduces the same labeling
    val starEdges = a.toSeq.filter { case (id, c) => id != c }
      .toDF("id1", "id2")
    val relabeled = Dedup.connectedComponents(starEdges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    relabeled.foreach { case (id, c) =>
      assert(a(id) == c, s"relabeling the star edges moved $id: ${a(id)} -> $c")
    }
    PipelineCaches.unpersistAll()
  }

  test("blocked n-gram Jaccard at sf0.1 equals minhash pairs restricted to blocks") {
    val blocked = Dedup.ngramJaccardPairs(aug, "doc_id", "text",
        Seq("lang", "source"), 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val blocks = aug.select("doc_id", "lang", "source").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val expected = minhashPairs
      .filter { case (a, b, _) => blocks(a) == blocks(b) }
      .map(p => (p._1, p._2) -> p._3).toMap
    val got = blocked.map(p => (p._1, p._2) -> p._3).toMap
    assert(got.keySet == expected.keySet,
      s"pair sets differ: extra=${got.keySet.diff(expected.keySet).take(3)} " +
        s"missing=${expected.keySet.diff(got.keySet).take(3)}")
    got.foreach { case (k, j) =>
      assert(math.abs(j - expected(k)) < 1e-6, s"$k: $j vs ${expected(k)}")
    }
    PipelineCaches.unpersistAll()
  }

  test("incremental dedup at sf0.1 equals batch minhash restricted to delta-touching pairs") {
    val store = Dedup.buildSignatureStore(
      aug.filter(col("doc_id") < 1000000L), "doc_id", "text")
    val inc = Dedup.incrementalNearDuplicates(
        aug.filter(col("doc_id") >= 1000000L), store, "doc_id", "text",
        threshold = 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // with id1 < id2 and delta ids >= 1e6, "touches the delta" is
    // exactly id2 >= 1e6 (old×old pairs all have id2 < 1e6)
    val expected = minhashPairs.filter(_._2 >= 1000000L)
      .map(p => (p._1, p._2) -> p._3).toMap
    val got = inc.map(p => (p._1, p._2) -> p._3).toMap
    assert(got.keySet == expected.keySet,
      s"extra=${got.keySet.diff(expected.keySet).take(3)} " +
        s"missing=${expected.keySet.diff(got.keySet).take(3)}")
    got.foreach { case (k, j) =>
      assert(math.abs(j - expected(k)) < 1e-6, s"$k: $j vs ${expected(k)}")
    }
    PipelineCaches.unpersistAll()
  }

  test("keep-best at sf0.1: one representative per cluster, argmax rule, corpus preserved") {
    import spark.implicits._
    val pairsDf = minhashPairs.map(p => (p._1, p._2)).toDF("id1", "id2")
    val comps = Dedup.connectedComponents(pairsDf)
    val kb = Dedup.keepBest(aug, "doc_id", comps, length(col("text")))
      .select(col("doc_id"), col("cluster"), col("keep"),
        length(col("text")).as("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getInt(3)))
    assert(kb.length == aug.count(), "keepBest changed the corpus row count")
    kb.groupBy(_._2).foreach { case (cluster, members) =>
      val keepers = members.filter(_._3)
      assert(keepers.length == 1,
        s"cluster $cluster elected ${keepers.length} representatives")
      // argmax score, ties to lowest id
      val best = members.minBy(m => (-m._4, m._1))
      assert(keepers.head._1 == best._1,
        s"cluster $cluster kept ${keepers.head} over $best")
    }
    // the quality-score composition (q_dedup_keep_best_quality's shape):
    // same election invariants against the engine-evaluated score (the
    // score function itself is oracle-gated at sf0.01 via q_text_quality)
    val q = graft.ml.TextAnalysis.qualityScore(col("text"))
    val kbq = Dedup.keepBest(aug, "doc_id", comps, q)
      .select(col("doc_id"), col("cluster"), col("keep"), q.as("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getDouble(3)))
    assert(kbq.length == kb.length)
    kbq.groupBy(_._2).foreach { case (cluster, members) =>
      val keepers = members.filter(_._3)
      assert(keepers.length == 1, s"quality: cluster $cluster elected ${keepers.length}")
      val best = members.minBy(m => (-m._4, m._1))
      assert(keepers.head._1 == best._1,
        s"quality: cluster $cluster kept ${keepers.head} over $best")
    }
    PipelineCaches.unpersistAll()
  }

  test("self-verifying contract gates hold at sf0.1: semantic dedup recall, DIMSUM error bound") {
    // these two gate queries carry their own engine-side verification
    // (exact pair recompute / exact-vs-estimate error) — run them at
    // sf0.1 and assert the contract booleans they emit
    val sem = SparkEntry.queries("q_dedup_semantic")(spark, dir).head()
    assert(sem.getAs[Long]("n_exact") >= 0L)
    assert(sem.getAs[Boolean]("recall_ok"),
      s"semantic dedup recall contract failed at sf0.1: $sem")
    val dim = SparkEntry.queries("q_matrix_gram_dimsum")(spark, dir).head()
    assert(dim.getAs[Boolean]("dimsum_ok"),
      s"DIMSUM ±0.08 error contract failed at sf0.1: $dim")
    assert(dim.getAs[Boolean]("downsampled"),
      "DIMSUM sampled nothing away at sf0.1 — the scale path is inert")
    PipelineCaches.unpersistAll()
  }

  test("PQ and IVF-PQ recall contracts hold at sf0.1") {
    // 10× the oracle scale: the compressed-scan ANN rungs must still
    // recover ≥2 of each query's exact top-5 after re-rank
    Seq("q_ann_pq", "q_ann_ivfpq").foreach { gate =>
      val rows = SparkEntry.queries(gate)(spark, dir).collect()
      assert(rows.length == 10, s"$gate: expected 10 query rows")
      val bad = rows.filterNot(_.getAs[Boolean]("recall_ok"))
      assert(bad.isEmpty,
        s"$gate recall contract failed at sf0.1 for qids " +
          bad.map(_.getAs[Long]("qid")).mkString(","))
      PipelineCaches.unpersistAll()
    }
  }

  test("embedding near-dup at sf0.1: reported cosines exact, smallest block complete") {
    val out = SparkEntry.queries("q_embed_neardup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray, r.getAs[Any](2).toString))
    val byId = vecs.map(v => v._1 -> v._2).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
    }
    // exactness of everything reported (rounded to 6 in the gate)
    out.foreach { case (a, b, c) =>
      val exact = cos(byId(a), byId(b))
      assert(math.abs(exact - c) < 5e-7, s"pair ($a,$b): $c vs $exact")
      assert(exact >= 0.9 - 5e-7)
    }
    // completeness on the smallest label block, brute-forced here
    val (label, members) = vecs.groupBy(_._3).minBy(_._2.length)
    val brute = for {
      i <- members.indices; j <- (i + 1) until members.length
      if cos(members(i)._2, members(j)._2) >= 0.9
    } yield {
      val (x, y) = (members(i)._1, members(j)._1)
      (math.min(x, y), math.max(x, y))
    }
    val missing = brute.toSet.diff(out.map(p => (p._1, p._2)).toSet)
    assert(missing.isEmpty,
      s"block '$label' (${members.length} vecs): ${missing.size} pairs missed")
  }

  test("round-6 operators hold their contracts at sf0.1") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")

    // training order: a dense exact permutation of the corpus
    val n = docs.count()
    val ord = graft.ml.Corpus.orderForTraining(
      docs.select("doc_id"), "doc_id")
    val stats = ord.agg(count(lit(1)), countDistinct(col("global_pos")),
      min("global_pos"), max("global_pos")).head()
    assert(stats.getLong(0) == n && stats.getLong(1) == n)
    assert(stats.getLong(2) == 0L && stats.getLong(3) == n - 1)

    // whole-doc packing: every doc exactly once, multi-doc bins <= ctx
    val toks = docs.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("tok"))
    val packed = graft.ml.Corpus.packWholeDocs(toks, "doc_id", "tok",
      ctxLen = 512, nShards = 32).cache()
    assert(packed.count() == n)
    assert(packed.select(countDistinct(col("id"))).head().getLong(0) == n)
    val overfull = packed.groupBy("shard", "bin_id")
      .agg(sum("n_tokens").as("fill"), count(lit(1)).as("nd"))
      .filter(col("nd") > 1 && col("fill") > 512).count()
    assert(overfull == 0L)
    packed.unpersist(blocking = false)

    // perplexity buckets: per-language bucket sizes are ntile-even
    val ppl = graft.ml.TextAnalysis.perplexityBuckets(
      docs, "doc_id", "text", "lang", nBuckets = 3)
    val sizes = ppl.groupBy("lang", "bucket").count()
      .groupBy("lang").agg((max("count") - min("count")).as("spread"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.values.forall(_ <= 1), s"uneven ntile: $sizes")

    // k-core: the output is self-verifying (every in-core degree >= k)
    val items = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val edges = items.alias("a").join(items.alias("b"), Seq("o"))
      .filter(col("a.p") < col("b.p"))
      .select(col("a.p").as("src"), col("b.p").as("dst"))
    val core = graft.graph.Graphs.kCore(edges, k = 70).cache()
    val coreN = core.count()
    assert(coreN > 0, "70-core empty at sf0.1")
    assert(core.filter(col("degree") < 70).count() == 0)
    core.unpersist(blocking = false)

    // triangles: total participation divisible by 3, degrees match an
    // independent recount
    val tri = graft.graph.Graphs.triangleCounts(edges).cache()
    val triSum = tri.agg(sum("triangles")).head().getLong(0)
    assert(triSum > 0 && triSum % 3 == 0, s"sum $triSum")
    val degCheck = graft.graph.Graphs.canonicalEdges(edges, "src", "dst")
      .select(col("u").as("node")).unionAll(
        graft.graph.Graphs.canonicalEdges(edges, "src", "dst")
          .select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val mismatch = tri.join(degCheck, "node")
      .filter(col("degree") =!= col("d")).count()
    assert(mismatch == 0L)
    tri.unpersist(blocking = false)

    // weighted sample: exact driver replay of the top-50 key ranking
    val ws = graft.ml.Corpus.weightedSample(
      docs.select(col("doc_id"), (col("n_chars") + 1L).as("w")),
      "doc_id", "w", n = 50)
      .select("doc_id").as[Long].collect().toSet
    def fib(id: Long) = (id % 2147483647L) * 1327217885L % 2147483647L
    val all = docs.select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)].collect()
    val expect = all.map { case (id, nc) =>
      (id, math.log((fib(id) + 1).toDouble / 2147483648.0) / (nc + 1)) }
      .sortBy { case (id, k) => (-k, id) }.take(50).map(_._1).toSet
    assert(ws == expect)
  }

  test("round-16 operators hold their contracts at sf0.1") {
    import spark.implicits._
    val eventsRaw = spark.read.parquet(s"$dir/events.parquet")
    val events = eventsRaw.withColumn("sec", graft.core.Ts.seconds(eventsRaw))

    // interval join: bucketed composition equals the naive inequality
    // join (both engine-side) on the gate's derived interval tables
    val l = events.filter(col("event_id") % 17 === 0)
      .select((col("user_id") % 10).as("k"), col("event_id").as("l_id"),
        col("sec").as("ls"), (col("sec") + (col("event_id") % 5 + 1) * 3600).as("le"))
    val r = events.filter(col("event_id") % 23 === 0)
      .select((col("user_id") % 10).as("k2"), col("event_id").as("r_id"),
        col("sec").as("rs"), (col("sec") + (col("event_id") % 7 + 1) * 1800).as("re"))
    val naive = l.join(r, col("k") === col("k2") &&
        col("ls") < col("re") && col("rs") < col("le"))
      .select("l_id", "r_id").as[(Long, Long)].collect().sorted.toSeq
    val bucketed = graft.join.Joins.intervalJoin(
        l, r.withColumnRenamed("k2", "k"), "ls", "le", "rs", "re",
        bucketWidth = 21600.0, keys = Seq("k"))
      .select("l_id", "r_id").as[(Long, Long)].collect().sorted.toSeq
    assert(bucketed == naive && naive.nonEmpty)

    // PCA at 64 dims: eigenvalues descending, projected variance equals
    // each eigenvalue (population), whitened variance is 1
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val model = graft.ml.Pca.fit(emb, "vec", 64, 8)
    assert(model.eigenvalues.toSeq ==
      model.eigenvalues.sorted.reverse.toSeq)
    val proj = graft.ml.Pca.project(emb, "id", "vec", model)
      .select(posexplode(col("proj"))).toDF("c", "x")
      .groupBy("c").agg(var_pop(col("x")).as("v"))
      .collect().map(rr => rr.getInt(0) -> rr.getDouble(1)).toMap
    for (c <- 0 until 8)
      assert(math.abs(proj(c) - model.eigenvalues(c)) <
        1e-6 * math.max(1.0, model.eigenvalues(c)), s"axis $c")

    // bootstrap CI: interval covers the point estimate, users conserved
    val perUser = events
      .withColumn("variant", (col("user_id") % 3).cast("string"))
      .groupBy("user_id", "variant")
      .agg(max(when(col("event_type") === "purchase", 1).otherwise(0)).as("x"))
    val boot = graft.events.Events.bootstrapCI(perUser, "user_id",
      "variant", "x", nReps = 50).collect()
    assert(boot.map(_.getAs[Long]("n_users")).sum == perUser.count())
    boot.foreach { row =>
      val (m, lo, hi) = (row.getAs[Double]("mean"),
        row.getAs[Double]("ci_lo"), row.getAs[Double]("ci_hi"))
      assert(lo <= m && m <= hi)
    }

    // sequential test: cumulative counts monotone, always-valid p
    // non-increasing per arm
    val seq = graft.events.Events.sequentialTest(
      events.withColumn("variant", (col("user_id") % 3).cast("string")),
      "user_id", "variant", "sec", "event_type", "purchase", "0", 86400L)
      .collect().groupBy(_.getAs[String]("variant"))
    seq.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("period"))
      val ns = sorted.map(_.getAs[Long]("n_t"))
      assert(ns.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
      val ps = sorted.flatMap(x =>
        Option(x.getAs[java.lang.Double]("p_value"))).map(_.doubleValue)
      assert(ps.sliding(2).forall(p => p.length < 2 || p(0) >= p(1) - 1e-15))
    }

    // cusum: both statistics non-negative, alarm exactly (s > h)
    val cu = graft.events.Events.cusum(events, "user_id", "sec",
      "event_id", "value", mu0 = 5.0, slack = 0.5, h = 20.0)
    val bad = cu.filter(col("s_pos") < 0 || col("s_neg") < 0 ||
      col("alarm") =!= (col("s_pos") > 20.0 || col("s_neg") > 20.0)).count()
    assert(bad == 0L)

    // hybrid retrieval: every fused doc comes from a branch list, RRF
    // descending, n_lists bounded by the branch count
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val fused = graft.ml.Hybrid.hybridSearch(docs, "doc_id", "text",
      emb, Seq("data", "table", "server", "value"),
      queryVec = emb.filter(col("id") === 0), nCand = 20, topK = 10)
      .collect()
    assert(fused.length == 10)
    val rrfs = fused.map(_.getAs[Double]("rrf"))
    assert(rrfs.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    assert(fused.forall(row => {
      val nl = row.getAs[Long]("n_lists"); nl >= 1 && nl <= 2
    }))
  }

  /** Builds `body` with the window budget at zero: every
    * [[graft.functions.Ranks]] decision inside takes the two-pass path.
    */
  private def twoPass[T](body: => T): T =
    graft.functions.Ranks.withWindowMaxBytes(0L)(body)

  test("bigVocab distributed-rank path equals the window path at sf0.1 " +
      "(zipfFit, burrowsDelta, quantileNormalize)") {
    import graft.ml.{Profile, TextAnalysis => TA}
    val docs = spark.read.parquet(s"$dir/documents.parquet")

    // The two paths assign IDENTICAL integer ranks (that's the
    // invariant under test), but they partition the ranked rows
    // differently, so downstream double aggregates (OLS sums, delta
    // means) accumulate in a different order — compare integers
    // exactly and doubles to relative 1e-9 (ULP-level drift only; a
    // rank divergence would move the stats by whole data points).
    def close(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) =>
        x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x),
          math.abs(y)).max(1e-12)
      case _ => a == b
    }

    // zipfFit returns ONE row of regression stats — ranks feed the
    // OLS sums, so any rank divergence changes the doubles
    def row1(df: org.apache.spark.sql.DataFrame): Seq[Any] =
      df.collect().map(_.toSeq).toSeq.flatten
    val (z1, z2) = (row1(TA.zipfFit(docs, "text")),
      row1(twoPass(TA.zipfFit(docs, "text"))))
    assert(z1.length == z2.length &&
      z1.lazyZip(z2).forall(close), s"$z1 vs $z2")

    // burrowsDelta: the full source-pair distance matrix must match
    def deltaMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getDouble(2)).toMap
    val (d1, d2) = (deltaMap(TA.burrowsDelta(docs, "source", "text")),
      deltaMap(twoPass(TA.burrowsDelta(docs, "source", "text"))))
    assert(d1.keySet == d2.keySet &&
      d1.forall { case (k, v) => close(v, d2(k)) }, s"$d1 vs $d2")

    // quantileNormalize: per-row equality via a value checksum (the
    // frame is corpus-sized — don't collect it). The double column is
    // quantized (coarsely — 1e4: each extra digit multiplies the
    // chance that a ULP-divergent value straddles a floor boundary
    // and flips the checksum; a real rank divergence moves values at
    // data-point scale, far above 1e-4) before hashing.
    def checksum(df: org.apache.spark.sql.DataFrame): Seq[Any] = {
      val h = xxhash64(col("id"), col("stratum"), col("v"),
        col("stratum_rank"), col("pooled_pos"),
        floor(col("normalized") * 1e4 + 0.5))
      df.agg(count(lit(1)), sum(h)).collect().head.toSeq
    }
    val q = docs.select(col("doc_id"), col("source"),
      (col("doc_id") % 1000).cast("double").as("score"))
    assert(checksum(Profile.quantileNormalize(q, "doc_id", "source",
        "score")) ==
      checksum(twoPass(Profile.quantileNormalize(q, "doc_id", "source",
        "score"))))
  }

  test("bigDomain prefix path equals the window path at sf0.1 on " +
      "CONTINUOUS scores (rocAuc, mannWhitney, riskCoverage, " +
      "gainsTable, qiniCurve)") {
    import graft.ml.Eval
    // ~|corpus| distinct score values — the open-domain case the
    // single-partition distinct-score window cannot hold at scale
    val scored = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        ((col("doc_id") * 2654435761L) % 1000003L).cast("double")
          ./(lit(1000003.0)).as("score"),
        (col("doc_id") % 3 === 0).cast("int").as("label"),
        (col("doc_id") % 2 === 0).as("treated"))
    // integer prefixes are EXACT in both paths; only double columns
    // whose aggregation order differs may drift at the ULP level
    def close(a: Any, b: Any): Boolean = (a, b) match {
      case (null, null) => true
      case (x: Double, y: Double) =>
        x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x),
          math.abs(y)).max(1e-12)
      case _ => a == b
    }
    def rows1(df: org.apache.spark.sql.DataFrame): Seq[Any] =
      df.collect().map(_.toSeq).toSeq.flatten
    def eq1(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Unit = {
      val (x, y) = (rows1(a), rows1(b))
      assert(x.length == y.length && x.lazyZip(y).forall(close),
        s"$x vs $y")
    }
    eq1(Eval.rocAuc(scored, "score", "label"),
      twoPass(Eval.rocAuc(scored, "score", "label")))
    eq1(Eval.mannWhitney(scored, "score", "label"),
      twoPass(Eval.mannWhitney(scored, "score", "label")))
    eq1(Eval.averagePrecision(scored, "score", "label"),
      twoPass(Eval.averagePrecision(scored, "score", "label")))
    // gains/qini collapse to k buckets — integer columns exact, the
    // ratio columns derive from exact integers
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("bucket").collect().map(_.toSeq).toSeq
    val (g1, g2) = (sortedRows(Eval.gainsTable(scored, "score", "label")),
      sortedRows(twoPass(Eval.gainsTable(scored, "score", "label"))))
    assert(g1.length == g2.length && g1.lazyZip(g2).forall(
      (r1, r2) => r1.lazyZip(r2).forall(close)), s"$g1 vs $g2")
    val (u1, u2) = (sortedRows(
        Eval.qiniCurve(scored, "score", "treated", "label")),
      sortedRows(twoPass(
        Eval.qiniCurve(scored, "score", "treated", "label"))))
    assert(u1.length == u2.length && u1.lazyZip(u2).forall(
      (r1, r2) => r1.lazyZip(r2).forall(close)), s"$u1 vs $u2")
    // rfmSegments: per-user frame with three near-continuous bucket
    // dimensions (monetary distinct values ≈ user count) — scores and
    // dims are integers/rounded, so an exact checksum holds
    val evd = spark.read.parquet(s"$dir/events.parquet")
    val rfmIn = evd.select(col("user_id"),
      graft.core.Ts.seconds(evd).as("sec"), col("value"))
    def rfmSum(forceTwoPass: Boolean): Seq[Any] = {
      def build = graft.events.Events.rfmSegments(rfmIn, "user_id", "sec",
        "value", asOfSec = 1706659200L, k = 5)
      val r = if (forceTwoPass) twoPass(build) else build
      r.agg(count(lit(1)), sum(xxhash64(col("user"), col("recency"),
        col("frequency"), col("monetary"), col("rfm")))).collect()
        .head.toSeq
    }
    assert(rfmSum(false) == rfmSum(true))
    // riskCoverage keeps one row per distinct confidence — compare by
    // checksum (coverage/risk are ratios of the exact integer
    // prefixes; aurc aggregates doubles, so it is quantized — 1e4,
    // coarse on purpose: see the bigVocab test's boundary rationale)
    def rcSum(df: org.apache.spark.sql.DataFrame): Seq[Any] =
      df.agg(count(lit(1)), sum(xxhash64(col("confidence"), col("n"),
        col("coverage"), col("risk"),
        floor(col("aurc") * 1e4 + 0.5)))).collect().head.toSeq
    assert(rcSum(Eval.riskCoverage(scored, "score", "label")) ==
      rcSum(twoPass(Eval.riskCoverage(scored, "score", "label"))))
  }
}
