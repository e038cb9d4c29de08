package graft

import org.apache.spark.sql.functions._
import graft.core.PipelineCaches
import graft.ml.{Dedup, Multimodal, Similarity, TextAnalysis => TA}

/** LLM-pipeline operators: dedup discovery recall, ANN recall vs
  * brute force, language ID on real-language samples, multimodal
  * plumbing.
  */
class MlSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away"),
      (2L, "the quick brown fox jumps over the lazy dog and runs far"), // near-dup of 1
      (3L, "completely different content about spark query engines at scale"),
      (4L, "completely different content about spark query engines at scale"), // exact dup of 3
      (5L, "unrelated short text"))
    base.toDF("doc_id", "text")
  }

  test("exact duplicates map to the canonical min id") {
    val canon = Dedup.exactDuplicates(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(canon(3L) == 3L && canon(4L) == 3L)
    assert(canon(1L) == 1L && canon(2L) == 2L) // near-dup is NOT exact
  }

  test("dedupWeights: copies weighted 1/cluster, sum = distinct contents") {
    val w = Dedup.dedupWeights(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(w(3L) == ((2L, 0.5)) && w(4L) == ((2L, 0.5)))
    assert(w(1L) == ((1L, 1.0)) && w(2L) == ((1L, 1.0)) &&
      w(5L) == ((1L, 1.0)))
    assert(math.abs(w.values.map(_._2).sum - 4.0) < 1e-12) // 4 distinct
  }

  test("minhash LSH finds the near-dup pair and skips unrelated docs") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Dedup.minHashNearDuplicates(docs, "doc_id", "text",
      threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"missing near-dup pair, got $pairs")
    assert(pairs.contains((3L, 4L)))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
    // the signature scan is persisted for reuse; the cleanup API must
    // drop exactly the caches this pipeline created
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "pipeline should have persisted its signature scan")
    PipelineCaches.unpersistAll()
    val remaining = spark.sparkContext.getPersistentRDDs.keySet
    assert(added.forall(id => !remaining.contains(id)),
      "tracked pipeline caches leaked after PipelineCaches.unpersistAll()")
  }

  test("prefixFilterJaccardPairs equals brute-force all-pairs Jaccard") {
    import spark.implicits._
    // adversarial mix: shared hot grams everywhere, one near-dup pair,
    // an exact-dup pair, length-ratio decoys, and a doc whose prefix
    // is all hot grams
    val fix = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away"),
      (2L, "the quick brown fox jumps over the lazy dog and runs far"),
      (3L, "completely different content about spark query engines at scale"),
      (4L, "completely different content about spark query engines at scale"),
      (5L, "the the the the the the"),
      (6L, "quick brown dog"),
      (7L, "spark query engines at scale are completely different content about")
    ).toDF("doc_id", "text")
    def norm(t: String) = t.toLowerCase.replaceAll("[^a-z0-9\\s]", " ")
      .replaceAll("\\s+", " ").trim
    def sh(t: String): Set[String] = {
      val w = norm(t).split(" ").toSeq
      if (w.length < 2) w.toSet else w.sliding(2).map(_.mkString(" ")).toSet
    }
    val local = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L)
      .map(i => i -> sh(fix.filter(col("doc_id") === i)
        .head().getString(1)))
    val want = (for {
      (i, si) <- local; (j, sj) <- local if i < j
      jac = (si & sj).size.toDouble / (si | sj).size
      if jac >= 0.5
    } yield (i, j, math.rint(jac * 1e6) / 1e6)).toSet
    val got = Dedup.prefixFilterJaccardPairs(fix, "doc_id", "text",
        threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e6) / 1e6)).toSet
    assert(got == want, s"got $got want $want")
    assert(want.exists(p => p._1 == 1L && p._2 == 2L)) // fixture sanity
    // blocked variant: same answer restricted to same-block pairs
    val blocked = fix.withColumn("blk",
      when(col("doc_id") <= 4L, "x").otherwise("y"))
    val gotB = Dedup.prefixFilterJaccardPairs(blocked, "doc_id", "text",
        threshold = 0.5, blockCols = Seq("blk")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e6) / 1e6)).toSet
    val wantB = want.filter(p => (p._1 <= 4L) == (p._2 <= 4L))
    assert(gotB == wantB, s"got $gotB want $wantB")
    intercept[IllegalArgumentException](
      Dedup.prefixFilterJaccardPairs(fix, "doc_id", "text", threshold = 0.0))
  }

  test("containmentPairs finds asymmetric subsumption Jaccard misses") {
    import spark.implicits._
    val fix = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "b"),
      (2L, "alpha beta gamma delta", "b"), // contained prefix of 1
      (3L, "totally unrelated words here about something else", "b"),
      (4L, "alpha beta gamma delta", "OTHER")) // same text, other block
      .toDF("doc_id", "text", "blk")
    val got = Dedup.containmentPairs(fix, "doc_id", "text",
        blockCols = Seq("blk"), threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 2's three bigrams all appear in 1 → containment(2→1) = 1; the
    // reverse direction is 3/9 and must NOT appear; cross-block 4 is
    // invisible despite identical text
    assert(got == Set((2L, 1L)), s"got $got")
    val c = Dedup.containmentPairs(fix, "doc_id", "text",
        Seq("blk"), threshold = 0.9).head().getDouble(2)
    assert(math.abs(c - 1.0) < 1e-12)
    intercept[IllegalArgumentException](
      Dedup.containmentPairs(fix, "doc_id", "text", Seq.empty, 0.9))
  }

  test("vocabularyRichness: hand frequency spectrum") {
    import spark.implicits._
    // stratum s: tokens a,a,b,a,c → counts a=3, b=1, c=1
    val d = Seq(("s", "a a b"), ("s", "a c")).toDF("src", "text")
    val r = graft.ml.TextAnalysis.vocabularyRichness(d, "src", "text")
      .collect().head
    assert(r.getString(0) === "s")
    assert(r.getLong(1) === 5L && r.getLong(2) === 3L && r.getLong(3) === 2L)
    assert(math.abs(r.getDouble(4) - 2.0 / 3) < 1e-12)
    // K = 1e4·(9+1+1−5)/25 = 2400; D = (6+0+0)/(5·4) = 0.3
    assert(math.abs(r.getDouble(5) - 2400.0) < 1e-9)
    assert(math.abs(r.getDouble(6) - 0.3) < 1e-12)
  }

  test("mutualInformation: independence, determination, decomposition") {
    import spark.implicits._
    // independent 2×2 grid → I = 0
    val ind = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    val ri = graft.ml.Profile.mutualInformation(ind, "a", "b")
      .collect().head
    assert(math.abs(ri.getDouble(4)) < 1e-12) // mi
    assert(math.abs(ri.getDouble(7)) < 1e-12) // nmi
    // b determined by a → I = H(A) = H(B) = ln 2, NMI = 1
    val det = Seq(("x", "p"), ("x", "p"), ("y", "q"), ("y", "q"))
      .toDF("a", "b")
    val rd = graft.ml.Profile.mutualInformation(det, "a", "b")
      .collect().head
    assert(math.abs(rd.getDouble(4) - math.log(2.0)) < 1e-12)
    assert(math.abs(rd.getDouble(7) - 1.0) < 1e-12)
    // skewed table: the chain decomposition holds exactly
    val mix = Seq(("x", "p"), ("x", "p"), ("x", "q"), ("y", "q"))
      .toDF("a", "b")
    val rm = graft.ml.Profile.mutualInformation(mix, "a", "b")
      .collect().head
    val (ha, hb, hab, mi) = (rm.getDouble(1), rm.getDouble(2),
      rm.getDouble(3), rm.getDouble(4))
    assert(math.abs(mi - (ha + hb - hab)) < 1e-12)
    assert(math.abs(rm.getDouble(5) - (hab - hb)) < 1e-12)
    assert(math.abs(ha - (-0.75 * math.log(0.75) -
      0.25 * math.log(0.25))) < 1e-12)
  }

  test("uniformSampleByKey: deterministic md5-rank top-k per key") {
    import spark.implicits._
    val d = (1 to 8).map(i => (if (i <= 4) "g1" else "g2", i.toLong, s"v$i"))
      .toDF("k", "id", "v")
    val got = graft.ml.Profile.uniformSampleByKey(d, Seq("k"), "id", 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    // exactly 2 per key, stable across invocations
    assert(got.count(_._1 == "g1") === 2 && got.count(_._1 == "g2") === 2)
    val again = graft.ml.Profile.uniformSampleByKey(d, Seq("k"), "id", 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(got === again)
    // matches a driver md5 replay of the same rank function
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expect = (1 to 8).map { i =>
      val k = if (i <= 4) "g1" else "g2"
      (k, i.toLong, md5hex(s"graft\u0001$k\u0001$i"))
    }.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      rs.sortBy(r => (r._3, r._2)).take(2).map(r => (r._1, r._2))
    }.sorted
    assert(got === expect)
    // full rows come back (all columns preserved)
    assert(graft.ml.Profile.uniformSampleByKey(d, Seq("k"), "id", 2)
      .columns.toSeq === Seq("k", "id", "v"))
  }

  test("jsDivergenceByStratum matches a driver replica; bounds hold") {
    import spark.implicits._
    val d = Seq(("A", "a a b"), ("A", "a"), ("B", "b c"), ("C", "a a b c"))
      .toDF("src", "text")
    val toks = Map("A" -> Seq("a", "a", "b", "a"), "B" -> Seq("b", "c"),
      "C" -> Seq("a", "a", "b", "c"))
    val corpus = toks.values.flatten.toSeq
    val q = corpus.groupBy(identity).view
      .mapValues(_.size.toDouble / corpus.size).toMap
    def jsd(s: Seq[String]): Double = {
      val p = s.groupBy(identity).view
        .mapValues(_.size.toDouble / s.size).toMap
      val present = p.keys.toSeq.sorted.map { w =>
        val (pw, qw) = (p(w), q(w))
        pw * math.log(2 * pw / (pw + qw)) + qw * math.log(2 * qw / (pw + qw))
      }.sum
      0.5 * present + 0.5 * math.log(2.0) *
        (1.0 - p.keys.toSeq.map(q).sum)
    }
    val got = TA.jsDivergenceByStratum(d, "src", "text").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    toks.foreach { case (s, tk) =>
      assert(got(s)._1 == tk.size.toLong)
      assert(math.abs(got(s)._2 - jsd(tk)) < 1e-9, s"stratum $s")
    }
    // bounds: 0 ≤ jsd ≤ ln 2; C covers the corpus mix most closely
    assert(got.values.forall(v => v._2 >= -1e-12 && v._2 <= 0.6932))
    assert(got("C")._2 < got("B")._2)
  }

  test("randomProject: JL distance preservation, determinism, matrix law") {
    import spark.implicits._
    // matrix distribution: ±1 about 1/6 each, 0 about 2/3
    val m = Similarity.achlioptasMatrix(64, 32, "t")
    val flat = m.flatten
    val nPos = flat.count(_ == 1).toDouble / flat.length
    val nZero = flat.count(_ == 0).toDouble / flat.length
    assert(math.abs(nPos - 1.0 / 6) < 0.04, s"P(+1)=$nPos")
    assert(math.abs(nZero - 2.0 / 3) < 0.04, s"P(0)=$nZero")
    // distance preservation on deterministic pseudo-random vectors
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("id", "v")
    val proj = Similarity.randomProject(df, "v", 64, 32, "t")
      .select("id", "proj").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ratios = for {
      i <- 0 until 40; j <- (i + 1) until 40
      orig = d2(vecs(i)._2.map(_.toDouble), vecs(j)._2.map(_.toDouble))
      pr = d2(proj(i.toLong), proj(j.toLong))
    } yield pr / orig
    // k=32: E[ratio]=1; all pairs within a loose JL band (the χ²₃₂
    // tail reaches ~0.26 on 780 pairs), mean tight
    assert(ratios.forall(r => r > 0.2 && r < 2.5),
      s"worst ${ratios.min} ${ratios.max}")
    assert(math.abs(ratios.sum / ratios.size - 1.0) < 0.1)
    // determinism: same seed → same projection; different seed differs
    val again = Similarity.randomProject(df, "v", 64, 32, "t")
      .select("proj").head().getSeq[Double](0)
    assert(again.toArray.sameElements(proj(0L)))
    assert(!Similarity.randomProject(df, "v", 64, 32, "u")
      .select("proj").head().getSeq[Double](0).toArray
      .sameElements(proj(0L)))
    intercept[IllegalArgumentException](
      Similarity.randomProject(df, "v", 64, 65, "t"))
  }

  test("heavyHitters equals the exact GROUP BY answer with a tiny sketch") {
    import spark.implicits._
    // 8 heavy terms (600+ each) over a 3000-term uniform tail; k = 32
    // counters cannot hold the tail, so compaction churns constantly
    val raw = (1 to 8).flatMap(i => Seq.fill(500 + 100 * i)(s"hot$i")) ++
      (1 to 3000).flatMap(i => Seq.fill(2)(s"cold$i"))
    val tokens = new scala.util.Random(11).shuffle(raw).toDS()
    val n = raw.size.toLong
    val got = TA.heavyHitters(tokens, k = 32, denom = 20).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = raw.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c * 20 > n }.toMap
    assert(got == expected, s"got $got expected $expected")
  }

  test("connected components collapse chains and map docs to canonical ids") {
    import spark.implicits._
    // a 5-node chain (pointer jumping must collapse it), a pair, and
    // an isolated pair of nodes via one edge
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id1", "id2")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(comp(_) == 1L), s"chain not collapsed: $comp")
    assert(comp(10L) == 10L && comp(11L) == 10L)
    PipelineCaches.unpersistAll()
  }

  test("large/small-star components agree with label propagation on chains, hubs, and random graphs") {
    import spark.implicits._
    // chain + pair (the propagation test's shape)
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id1", "id2")
    val star = Dedup.connectedComponentsStar(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(star(_) == 1L), s"chain not collapsed: $star")
    assert(star(10L) == 10L && star(11L) == 10L)
    // a skewed hub (web-graph shape the star algorithm exists for):
    // node 500 connects to everything, plus a disjoint chain
    val hub = ((1L to 400L).map(i => (500L, i)) ++
      Seq((600L, 601L), (601L, 602L))).toDF("id1", "id2")
    val hubComp = Dedup.connectedComponentsStar(hub).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hubComp(500L) == 1L && (1L to 400L).forall(hubComp(_) == 1L))
    assert(Seq(600L, 601L, 602L).forall(hubComp(_) == 600L))
    // random graph: both algorithms must produce identical labelings
    val rnd = new scala.util.Random(11)
    val random = (1 to 300).map(_ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(p => p._1 != p._2).toDF("id1", "id2")
    val a = Dedup.connectedComponents(random).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Dedup.connectedComponentsStar(random).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, s"labelings diverge: ${a.toSet.diff(b.toSet)}")
    PipelineCaches.unpersistAll()
  }

  test("projectedTopK: JL-coarse + exact re-rank recovers most of exact top-k") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = e.filter(col("id") < 5)
    val exact = Similarity.bruteForceTopK(queries, e, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val proj = Similarity.projectedTopK(queries, e, 10,
        inDim = 64, outDim = 32, seed = "t", oversample = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(proj.keySet == exact.keySet)
    proj.values.foreach(s => assert(s.size == 10))
    val recalls = exact.map { case (qid, ex) =>
      proj(qid).intersect(ex).size.toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean recall@10 = $mean (per-query $recalls)")
    // re-rank is exact cosine: any neighbor shared with brute force
    // carries the identical score
    val exactScores = Similarity.bruteForceTopK(queries, e, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Similarity.projectedTopK(queries, e, 10, 64, 32, "t", 8).collect()
      .foreach { r =>
        val key = (r.getLong(0), r.getLong(1))
        exactScores.get(key).foreach(s =>
          assert(math.abs(s - r.getDouble(2)) < 1e-12))
      }
  }

  test("int8-quantized ANN search nearly reproduces exact top-k ranking") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = e.filter(col("id") < 5)
    val exact = Similarity.bruteForceTopK(queries, e, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val quant = Similarity.bruteForceTopKQuantized(
      queries, Similarity.quantizeInt8(e), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(exact.keySet == quant.keySet)
    val recalls = exact.map { case (qid, ex) =>
      quant(qid).intersect(ex).size.toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"int8 recall@10 degraded: $mean ($recalls)")
    // quantization round-trip: codes bounded, zero vector stays zero
    val z = Similarity.QuantUtil.quantize(Array(0f, 0f, 0f))
    assert(z.forall(_ == 0))
  }

  test("incremental dedup finds new-vs-store and new-vs-new pairs without corpus text") {
    import spark.implicits._
    val store = Dedup.buildSignatureStore(
      docs.filter(col("doc_id").isin(1L, 3L, 5L)), "doc_id", "text")
    // a batch holding doc 2 (near-dup of stored 1), doc 4 (near-dup of
    // stored 3), and an exact copy of 4 (a new×new pair)
    val batch = docs.filter(col("doc_id").isin(2L, 4L))
      .unionByName(docs.filter(col("doc_id") === 4L)
        .select(lit(40L).as("doc_id"), col("text")))
    val pairs = Dedup.incrementalNearDuplicates(batch, store,
      "doc_id", "text", threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"new-vs-store pair missing: $pairs")
    assert(pairs.contains((3L, 4L)))
    assert(pairs.contains((4L, 40L)), s"new-vs-new pair missing: $pairs")
    // no old×old pair may be emitted (1,3,5 are all mutually distinct
    // anyway, but the contract is that the store is never self-joined)
    assert(pairs.forall { case (a, b) => b == 2L || b == 4L || b == 40L },
      s"pair not touching the new batch: $pairs")
    PipelineCaches.unpersistAll()
  }

  test("incremental dedup survives autoBroadcastJoinThreshold=-1 (broadcast disabled)") {
    import spark.implicits._
    // "-1" is the standard way to disable broadcast joins and is exactly
    // the deployment shape this operator targets at 100 TB; the string
    // parser (byteStringAsBytes) rejects negatives, so the threshold must
    // be read from the parsed SQL conf. With broadcast off the bloom
    // prune is always worthwhile.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val store = Dedup.buildSignatureStore(
        docs.filter(col("doc_id").isin(1L, 3L)), "doc_id", "text")
      val batch = docs.filter(col("doc_id") === 2L)
      val pairs = Dedup.incrementalNearDuplicates(batch, store,
        "doc_id", "text", threshold = 0.5).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L)), s"pair missing with broadcast off: $pairs")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      PipelineCaches.unpersistAll()
    }
  }

  test("contamination flags probes lifted from corpus docs, skips clean and short ones") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "one two three four five six seven eight nine ten eleven twelve"),
      (3L, "tiny doc")).toDF("doc_id", "text")
    val probes = Seq(
      // lifted verbatim from doc 1 (9 words → 2 grams... needs >= 3:
      // use a longer span: 11 words → 4 8-grams)
      (100L, "beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (101L, "totally unrelated words that appear in no corpus document at all here"),
      (102L, "short")).toDF("doc_id", "text")
    val hits = Dedup.contamination(corpus, probes, "doc_id", "text",
      n = 8, minShared = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(hits == Set((1L, 100L, 4L)), s"got $hits")
  }

  test("dedupGroups maps every doc to a canonical representative") {
    val groups = Dedup.dedupGroups(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // near-dups 1~2 and 3~4 share canonicals; 5 is its own
    assert(groups(1L) == 1L && groups(2L) == 1L)
    assert(groups(3L) == 3L && groups(4L) == 3L)
    assert(groups(5L) == 5L)
    PipelineCaches.unpersistAll()
  }

  test("simhash of near-identical text is near in hamming distance") {
    val sigs = docs.select(col("doc_id"), Dedup.simHash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(3L), sigs(4L)) == 0)
    assert(ham(sigs(1L), sigs(2L)) <= 16)
    assert(ham(sigs(1L), sigs(3L)) > 10)
    val found = Dedup.simHashNearDuplicates(docs, "doc_id", "text",
      maxHamming = 16, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((3L, 4L)))
  }

  test("lsh ANN recalls a reasonable share of brute-force neighbors") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // clustered vectors: 3 centers + noise, so LSH buckets are useful
    val centers = Array.fill(3)(Array.fill(16)(rnd.nextGaussian()))
    val vecs = (0 until 90).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.1).toFloat))
    }
    val df = vecs.toDF("id", "vec")
    val queries = df.filter(col("id") < 5)
    val exact = Similarity.bruteForceTopK(queries, df, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(queries, df, dim = 16, k = 5, nBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"LSH recall too low: $recall")
  }

  test("rangeSearchIvf returns a high-recall exact-cosine subset of rangeSearch") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian()))
    val vecs = (0 until 120).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat))
    }
    val df = vecs.toDF("id", "vec")
    val queries = df.filter(col("id") < 8)
    val thr = 0.9
    val exact = Similarity.rangeSearch(queries, df, thr).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exactPairs = exact.map(t => (t._1, t._2)).toSet
    assert(exactPairs.nonEmpty, "fixture must produce matches")
    // threshold honored and self-pairs excluded on the exact path
    assert(exact.forall(_._3 >= thr))
    assert(exact.forall(t => t._1 != t._2))
    val ivf = Similarity.rangeSearchIvf(queries, df, thr,
      nCentroids = 8, nProbe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ivfPairs = ivf.map(t => (t._1, t._2))
    // no duplicate pairs, every returned pair is an exact-threshold
    // match with the exact cosine
    assert(ivfPairs.distinct.length == ivfPairs.length)
    val exactCos = exact.map(t => (t._1, t._2) -> t._3).toMap
    ivf.foreach { case (q, c, cos) =>
      assert(exactCos.contains((q, c)), s"pair ($q,$c) not in exact set")
      assert(math.abs(exactCos((q, c)) - cos) < 1e-12)
    }
    val recall = ivfPairs.toSet.size.toDouble / exactPairs.size
    assert(recall >= 0.8, s"IVF range recall too low: $recall")
    PipelineCaches.unpersistAll()
  }

  test("language ID on real-language samples") {
    import spark.implicits._
    val samples = Seq(
      ("en", "the cat is on the mat and it is happy with that"),
      ("de", "der hund und die katze das ist nicht ein problem"),
      ("es", "el perro y los gatos es una casa para todos que"),
      ("fr", "le chien et les chats est une maison pour dans"),
      ("zh", "这是一个中文句子"))
    val pred = samples.toDF("truth", "text")
      .select(col("truth"), TA.langId(col("text")).as("pred"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    pred.foreach { case (truth, p) => assert(p == truth, s"$truth -> $p") }
  }

  test("quality score separates empty/spam from real text") {
    import spark.implicits._
    val df = Seq(
      ("good", "the quick brown fox jumps over the lazy dog and keeps running for a while"),
      ("punct", "!!! ??? ;;; ### $$$ %%% @@@ !!!! ???? ;;;; #### $$$$$ %%%%% @@@@@"),
      ("short", "hi")).toDF("k", "text")
    val scores = df.select(col("k"), TA.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(scores("good") > scores("punct"))
    assert(scores("good") > scores("short"))
    assert(scores("good") == 1.0)
  }

  test("semantic dedup finds planted embedding clusters, equals brute force") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f)
    val b1 = Array.tabulate(dim)(i => if (i < 8) 1.0f else 0.0f)
    val b2 = Array.tabulate(dim)(i => if (i >= 8) 1.0f else 0.0f)
    // two tight planted clusters + orthogonal-ish noise vectors
    val vecs = (0L until 5L).map(i => (i, jitter(b1))) ++
      (5L until 10L).map(i => (i, jitter(b2))) ++
      (10L until 30L).map { i =>
        (i, Array.tabulate(dim)(d => if (d == (i % dim).toInt) 1.0f else 0.0f))
      }
    val df = vecs.toDF("id", "vec")
    val found = graft.ml.Dedup.semanticDuplicates(df, "id", "vec",
        threshold = 0.9, nCentroids = 4, softAssign = 2, kmeansIters = 2)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val exact = (for {
      (i, vi) <- vecs; (j, vj) <- vecs if i < j
      ni = math.sqrt(vi.map(x => x * x.toDouble).sum)
      nj = math.sqrt(vj.map(x => x * x.toDouble).sum)
      cos = vi.zip(vj).map { case (x, y) => x * y.toDouble }.sum / (ni * nj)
      if cos >= 0.9
    } yield (i, j)).toSet
    assert(exact.nonEmpty && found == exact,
      s"missed ${exact -- found}, extra ${found -- exact}")
  }

  test("repetition metrics: duplicate-token and top-bigram fractions") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b a"),            // 5 toks, 2 distinct; bigrams a b, b a, a b, b a
      (2L, "all fresh words here"), // no repeats; 3 distinct bigrams
      (3L, "x"),                    // single token: no bigrams
      (4L, "y y y y")               // pure repetition
    ).toDF("id", "text")
    val got = df.withColumn("t", TA.tokens(col("text")))
      .select(col("id"), TA.duplicateTokenFraction(col("t")).as("d"),
        TA.topBigramFraction(col("t")).as("b"))
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    def close(x: Double, y: Double) = math.abs(x - y) < 1e-9
    assert(close(got(0)._2, 0.6) && close(got(0)._3, 0.5))
    assert(close(got(1)._2, 0.0) && close(got(1)._3, 1.0 / 3))
    assert(close(got(2)._2, 0.0) && close(got(2)._3, 0.0))
    assert(close(got(3)._2, 0.75) && close(got(3)._3, 1.0))
  }

  test("pii scrub replaces emails, phones, ips with placeholders") {
    import spark.implicits._
    val text = "mail bob.smith+x@ex-ample.co.uk call 415-555-1234 " +
      "or 650-555-000 ip 10.0.0.1 done"
    val df = Seq((1L, text)).toDF("id", "text")
    val row = df.select(TA.piiCounts(col("text")).as("c"),
      TA.scrubPii(col("text")).as("s")).head()
    val c = row.getStruct(0)
    assert(c.getInt(0) == 1 && c.getInt(1) == 1 && c.getInt(2) == 1)
    assert(row.getString(1) ==
      "mail <EMAIL> call <PHONE> or 650-555-000 ip <IP> done")
  }

  test("imageNearDuplicates pairs perturbed copies, skips distinct and undecodable") {
    import spark.implicits._
    import graft.ml.ImageCodec
    def ppm(seed: Int, noise: Int): Array[Byte] =
      ImageCodec.encodePnm(ImageCodec.Image(16, 16, 3,
        Array.tabulate(16 * 16 * 3) { i =>
          val base = ((seed * 37 + i * 11) % 200).toByte
          if (noise > 0 && i % 97 == 0) (base + noise).toByte else base
        }))
    // 1,2: same image +- slight noise; 3: its resized copy (aHash is
    // resize-robust); 4,5: unrelated; 6: not an image at all
    val img1 = ppm(5, 0)
    val resized = ImageCodec.encodePnm(ImageCodec.resizeNearest(
      ImageCodec.decode(img1).get, 8, 8))
    val media = Seq(
      1L -> img1, 2L -> ppm(5, 12), 3L -> resized,
      4L -> ppm(60, 0), 5L -> ppm(123, 0),
      6L -> "definitely not an image".getBytes("UTF-8"))
      .toDF("id", "media")
    val pairs = graft.ml.Multimodal
      .imageNearDuplicates(media, threshold = 0.9, useLsh = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"perturbed copy missed: $pairs")
    assert(pairs.contains((1L, 3L)), s"resized copy missed: $pairs")
    assert(!pairs.exists(p => p._1 == 6L || p._2 == 6L), "undecodable paired")
    assert(!pairs.exists(p => Set(4L, 5L).contains(p._1) &&
      Set(4L, 5L).contains(p._2) == false || p == ((4L, 5L))),
      s"unrelated images paired: $pairs")
    // LSH-blocked path returns a subset of the exact pairs and still
    // finds the planted near-identical pair
    val lsh = graft.ml.Multimodal
      .imageNearDuplicates(media, threshold = 0.9, useLsh = true, nBits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(pairs), s"lsh $lsh not within exact $pairs")
    assert(lsh.contains((1L, 2L)))
  }

  test("dhashNearDuplicates: banded Hamming finds brightness-shifted " +
      "and one-pixel copies, rejects unrelated and undecodable") {
    import spark.implicits._
    import graft.ml.ImageCodec
    def img(seed: Long, edit: Array[Byte] => Array[Byte]): Array[Byte] = {
      val px = Array.tabulate(12 * 10 * 3)(i =>
        ((((seed * 2654435761L) ^ (i * 2246822519L)) / 64 % 200)).toByte)
      ImageCodec.encodePnm(ImageCodec.Image(12, 10, 3, edit(px)))
    }
    val media = Seq(
      1L -> img(5, identity),
      2L -> img(5, _.map(b => (b + 30).toByte)), // brightness: dHash-equal
      3L -> img(5, { p => val q = p.clone(); q(0) = (q(0) + 90).toByte; q }),
      4L -> img(777, identity), // unrelated
      5L -> "not an image".getBytes("UTF-8"))
      .toDF("id", "media")
    val got = graft.ml.Multimodal.dhashNearDuplicates(media, maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.contains((1L, 2L)) && got((1L, 2L)) == 0L,
      s"brightness copy must hash identically: $got")
    assert(got.contains((1L, 3L)) && got((1L, 3L)) <= 4L,
      s"one-pixel copy missed: $got")
    assert(got.contains((2L, 3L)), s"copies of the same base pair up: $got")
    assert(!got.keys.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated image paired: $got")
    assert(!got.keys.exists(p => p._1 == 5L || p._2 == 5L),
      "undecodable payload paired")
    // pigeonhole recall: with 4 bands, any pair under 4 differing
    // bits shares a clean band — verified against the brute count
    val allHashes = Seq(1L, 2L, 3L, 4L).map { id =>
      val bytes = media.filter(col("id") === id).collect()(0).getAs[Array[Byte]]("media")
      id -> ImageCodec.dHash64(ImageCodec.decode(bytes).get)
    }
    val brute = (for {
      (a, ha) <- allHashes; (b, hb) <- allHashes if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    assert(brute.subsetOf(got.keySet), s"pigeonhole recall violated: " +
      s"brute=$brute got=${got.keySet}")
    intercept[IllegalArgumentException] {
      graft.ml.Multimodal.dhashNearDuplicates(media, bands = 7)
    }
  }

  test("audioFpNearDuplicates: gain-invariant print pairs re-encodes, " +
      "noise burst stays near, unrelated and undecodable rejected") {
    import spark.implicits._
    import graft.ml.{AudioCodec, Multimodal}
    def wav(seed: Long, edit: Array[Int] => Array[Int]): Array[Byte] = {
      val v = Array.tabulate(650)(f =>
        ((((seed * 2654435761L) ^ (f * 2246822519L)) / 64 % 4001) - 2000).toInt)
      AudioCodec.encodeWav(AudioCodec.Audio(8000, 1, 16, edit(v)))
    }
    val media = Seq(
      1L -> wav(5, identity),
      2L -> wav(5, _.map(_ * 4)),              // gain x4: print-identical
      3L -> wav(5, v => v.zipWithIndex.map { case (x, f) =>
        if (f * 65L / 650 == 20) x + 400 else x }), // one-span burst
      4L -> wav(999, identity),                // unrelated
      5L -> "not audio".getBytes("UTF-8"),     // undecodable
      6L -> AudioCodec.encodeWav(               // too short for a print
        AudioCodec.Audio(8000, 1, 16, Array.fill(40)(100))))
      .toDF("id", "media")
    val got = Multimodal.audioFpNearDuplicates(media, maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.get((1L, 2L)).contains(0L),
      s"gain re-encode must print identically: $got")
    assert(got.contains((1L, 3L)) && got((1L, 3L)) <= 2L,
      s"one-span burst flips at most the two adjacent bits: $got")
    assert(got.contains((2L, 3L)), s"copies of one base pair up: $got")
    assert(!got.keys.exists(p => Set(4L, 5L, 6L)(p._1) || Set(4L, 5L, 6L)(p._2)),
      s"unrelated/undecodable/short clip paired: $got")
    // print equality checked directly: the kernel sees gain-scaled
    // energies (x16) with every adjacent comparison preserved
    val a = AudioCodec.decode(wav(5, identity)).get
    val b = AudioCodec.decode(wav(5, _.map(_ * 4))).get
    assert(Multimodal.audioFp64(a) == Multimodal.audioFp64(b))
  }

  test("videoFpNearDuplicates: brightness transcode sums to zero, " +
      "one-pixel frame edit stays near, alignment bounded by shorter video") {
    import spark.implicits._
    import graft.ml.{AviCodec, ImageCodec, Multimodal}
    def frame(seed: Long, f: Int, edit: Array[Byte] => Array[Byte]) = {
      val p = Array.tabulate(10 * 9 * 3)(i =>
        ((((seed * 2654435761L) ^ ((f * 100000L + i) * 2246822519L)) / 64)
          % 200).toByte)
      ImageCodec.encodePnm(ImageCodec.Image(10, 9, 3, edit(p)))
    }
    def avi(seed: Long, nf: Int, edit: (Int, Array[Byte]) => Array[Byte]) =
      AviCodec.encodeAvi((0 until nf).map(f =>
        frame(seed, f, p => edit(f, p))), 10, 9, 40000)
    val media = Seq(
      1L -> avi(5, 4, (_, p) => p),
      2L -> avi(5, 4, (_, p) => p.map(b => (b + 25).toByte)), // transcode
      3L -> avi(5, 4, { (f, p) =>                              // frame-1 edit
        if (f == 1) { val q = p.clone(); q(0) = (q(0) + 90).toByte; q }
        else p
      }),
      4L -> avi(5, 2, (_, p) => p), // same content, shorter: aligns 2 frames
      5L -> avi(777, 4, (_, p) => p)) // unrelated
      .toDF("id", "media")
    val got = Multimodal.videoFpNearDuplicates(media, maxTotalHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.get((1L, 2L)).contains((4L, 0L)),
      s"brightness transcode must print identically on all 4 frames: $got")
    assert(got.contains((1L, 3L)) && got((1L, 3L))._1 == 4L &&
      got((1L, 3L))._2 <= 2L, s"one-pixel frame edit missed: $got")
    assert(got.get((1L, 4L)).exists(_._1 == 2L),
      s"shorter copy aligns exactly its own frames: $got")
    assert(!got.keys.exists(p => p._1 == 5L || p._2 == 5L),
      s"unrelated video paired: $got")
    PipelineCaches.unpersistAll()
  }

  test("multimodal decode + frame sampling plumbing") {
    import spark.implicits._
    val media = Seq((1L, Array.fill[Byte](1000)(7)), (2L, Array.fill[Byte](64)(1)))
      .toDF("id", "media")
    val meta = Multimodal.decodeMetadata(media).collect().map(m => m.id -> m).toMap
    assert(meta(1L).byteLen == 1000L)
    assert(meta(1L).width >= 64 && meta(1L).width <= 64 + 15 * 64)
    assert(Set("jpeg", "png", "webp").contains(meta(1L).format))
    // deterministic: same bytes → same meta
    val again = Multimodal.decodeMetadata(media).collect().map(m => m.id -> m).toMap
    assert(again(1L) == meta(1L))
    val frames = Multimodal.frameSample(media, frameSize = 100, stride = 2)
    // 1000 bytes → 10 frames → every 2nd → 5; 64 bytes → 1 frame → 1
    val counts = frames.groupBy("id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(1L) == 5L)
    assert(counts(2L) == 1L)
  }

  test("multimodal feature extraction: batched, unit-norm, deterministic, order-preserving") {
    import spark.implicits._
    val media = (1L to 70L).map(i => (i, Array.fill[Byte](32)((i % 11).toByte)))
      .toDF("id", "media").repartition(2)
    val dim = 16
    val out = Multimodal.featureExtractStub(media, dim, batchSize = 32)
    val vecs = out.collect().map(e => e.id -> e.embedding).toMap
    assert(vecs.size == 70 && vecs.values.forall(_.length == dim))
    // unit-norm (model contract) and content-deterministic: ids with
    // identical bytes (i % 11 equal) share an embedding
    vecs.values.foreach { v =>
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      assert(math.abs(n - 1.0) < 1e-5)
    }
    assert(vecs(1L).toSeq == vecs(12L).toSeq)   // 1 % 11 == 12 % 11
    assert(vecs(1L).toSeq != vecs(2L).toSeq)
    // plumbs into the ANN surface: top-1 neighbor of a probe is an
    // identical-content row (cos ≈ 1)
    val e = out.toDF().select(col("id"), col("embedding").as("vec"))
    val top = graft.ml.Similarity.bruteForceTopK(
      e.filter(col("id") === 1), e.filter(col("id") =!= 1), k = 1)
    val best = top.collect().head
    assert(math.abs(best.getAs[Double]("cos") - 1.0) < 1e-5)
  }

  test("winnowing fingerprints: density bound, match guarantee, exact selection replay") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    def randText(n: Int): String =
      (0 until n).map(_ => s"t${rnd.nextInt(5000)}").mkString(" ")
    val sharedRun = (1 to 12).map(i => s"s$i").mkString(" ") // 12 tokens
    val d = Seq(
      (1L, randText(60) + " " + sharedRun + " " + randText(40)),
      (2L, randText(50) + " " + sharedRun + " " + randText(30)),
      (3L, randText(80)),
      // shorter than w grams (5 tokens -> 2 grams < w): NO windows —
      // guards the sequence(a, b) descending-range trap
      (4L, "a b c d e"),
      (5L, "tiny"))
      .toDF("doc_id", "text")
    val (k, w) = (4, 4)
    val fp = graft.ml.Dedup.winnowingFingerprints(d, "doc_id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    // driver replay of the exact algorithm
    def replay(text: String): Set[(Int, String)] = {
      val tk = graft.ml.Dedup.MinHashUtil.normalize(text)
        .split(" ").filter(_.nonEmpty)
      if (tk.length < k) return Set.empty
      val grams = tk.sliding(k).map(_.mkString(" ")).toArray
      def h(g: String): String = {
        val md = java.security.MessageDigest.getInstance("MD5")
        md.digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }
      (w to grams.length).map { wp => // windows of w grams ending at wp
        val win = ((wp - w) until wp).map(i => (i + 1, grams(i)))
        // min hash, rightmost position on ties
        win.minBy { case (pos, g) => (h(g), -pos) }
      }.toSet
    }
    val want = Seq(1L, 2L, 3L, 4L, 5L).flatMap(id =>
      replay(Seq(d.collect())(0).find(_.getLong(0) == id).get.getString(1))
        .map { case (p, g) => (id, p, g) }).toSet
    assert(fp.toSet == want, s"missing=${want -- fp.toSet} extra=${fp.toSet -- want}")
    // density: ~2/(w+1) of grams, never more than the window count
    val perDoc = fp.groupBy(_._1).view.mapValues(_.size)
    perDoc.foreach { case (_, n) => assert(n > 0) }
    // guarantee: the 12-token shared run (>= w + k - 1 = 7) yields at
    // least one fingerprint with the SAME GRAM in docs 1 and 2
    val g1 = fp.filter(_._1 == 1L).map(_._3).toSet
    val g2 = fp.filter(_._1 == 2L).map(_._3).toSet
    assert((g1 intersect g2).exists(_.startsWith("s")),
      s"shared run must fingerprint identically: ${g1 intersect g2}")
  }

  test("duplicateSpans merges shared k-gram runs into maximal spans") {
    import spark.implicits._
    // docs 10/11 share tokens 1..12 exactly; doc 12 shares nothing.
    val shared = (1 to 12).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (10L, s"$shared alpha beta gamma delta epsilon zeta eta theta"),
      (11L, s"$shared iota kappa lambda mu nu xi omicron pi"),
      (12L, "totally disjoint vocabulary one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, "doc_id", "text", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // shared 12-token prefix → 4-gram positions 1..9 → one span [1, 12]
    assert(spans == Set((10L, 1L, 12L), (11L, 1L, 12L)))
  }

  test("duplicateSpans reports separate spans across a gap") {
    import spark.implicits._
    val a = (1 to 6).map(i => s"a$i").mkString(" ")
    val b = (1 to 6).map(i => s"b$i").mkString(" ")
    // both docs share runs a1..a6 and b1..b6, with distinct middles
    // longer than k tokens — two spans each, not one.
    val d = Seq(
      (1L, s"$a m1 m2 m3 m4 m5 $b"),
      (2L, s"$a z1 z2 z3 z4 z5 $b"))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, "doc_id", "text", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans == Set((1L, 1L, 6L), (1L, 12L, 17L),
      (2L, 1L, 6L), (2L, 12L, 17L)))
  }

  test("tfidfTopTerms ranks distinctive terms above common ones") {
    import spark.implicits._
    val d = Seq(
      (1L, "shared shared zebra zebra zebra"),
      (2L, "shared quark quark quark"),
      (3L, "shared plain plain")).toDF("doc_id", "text")
    val top = TA.tfidfTopTerms(d, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    // 'shared' appears in all 3 docs → idf = ln(4/4)+1 = 1, while each
    // distinctive word has idf = ln(4/2)+1 ≈ 1.69; rank-1 must be the
    // distinctive word in every doc, 'shared' second
    assert(top((1L, 1L)) == "zebra")
    assert(top((2L, 1L)) == "quark")
    assert(top((3L, 1L)) == "plain")
    assert(top((1L, 2L)) == "shared")
  }

  test("editDistancePairs equals brute-force levenshtein on random strings") {
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(11)
    val strs = (1L to 60L).map { id =>
      id -> Array.fill(rnd.nextInt(9))(('a' + rnd.nextInt(3)).toChar).mkString
    }
    val df = strs.toDF("id", "s")
    Seq(1, 2).foreach { d =>
      val expected = (for {
        (i1, s1) <- strs; (i2, s2) <- strs
        if i1 < i2 && lev(s1, s2) <= d
      } yield (i1, i2, lev(s1, s2))).toSet
      val got = Dedup.editDistancePairs(df, "id", "s", maxDist = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == expected, s"maxDist=$d")
    }
  }

  test("duplicateSpans equals a brute-force reference on random corpora") {
    import spark.implicits._
    val k = 3
    def refSpans(docs: Seq[(Long, Array[String])]): Set[(Long, Long, Long, Long)] = {
      val gramDocs = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
      for ((id, w) <- docs; i <- 0 to w.length - k)
        gramDocs.getOrElseUpdate(w.slice(i, i + k).mkString(" "),
          scala.collection.mutable.Set.empty) += id
      val dup = gramDocs.collect { case (g, ds) if ds.size >= 2 => g }.toSet
      docs.flatMap { case (id, w) =>
        val pos = (0 to w.length - k)
          .filter(i => dup(w.slice(i, i + k).mkString(" "))).map(_ + 1)
        val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        pos.foreach { p =>
          if (spans.nonEmpty && p - spans.last._2 <= k) {
            val (s, _) = spans.remove(spans.length - 1); spans += ((s, p))
          } else spans += ((p, p))
        }
        spans.map { case (s, e) =>
          (id, s.toLong, (e + k - 1).toLong, (e + k - s).toLong) }
      }.toSet
    }
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val docs = (1L to 30L).map { id =>
        id -> Array.fill(rnd.nextInt(26))(s"t${rnd.nextInt(5)}")
      }.filter(_._2.nonEmpty)
      val got = Dedup.duplicateSpans(
        docs.map { case (id, w) => (id, w.mkString(" ")) }.toDF("doc_id", "text"),
        "doc_id", "text", k = k)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == refSpans(docs), s"seed $seed mismatch")
    }
  }

  test("collocations: planted phrase tops PMI, floor and ties honored") {
    import spark.implicits._
    // "new york" always adjacent (5x); "the" everywhere dilutes PMI
    val docs = Seq(
      (1L, "the new york office and the big office"),
      (2L, "new york is the city the people like"),
      (3L, "a new york deal and the old deal"),
      (4L, "new york new york and the rest")).toDF("doc_id", "text")
    val got = TA.collocations(docs, "doc_id", "text", minCount = 3,
        topK = 5)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        r.getLong(2), r.getDouble(3)))
    assert(got.head._1 == (("new", "york")), s"top: ${got.toSeq}")
    assert(got.head._2 == 5L)
    // hand-check PMI: N tokens total, c(new)=5, c(york)=5, c(ab)=5
    val n = docs.collect().map(_.getString(1).split(" ").length).sum
    val exp = math.log(n.toDouble * 5 / (5.0 * 5.0))
    assert(math.abs(got.head._3 - exp) < 1e-9)
    // floor: nothing below minCount appears
    assert(got.forall(_._2 >= 3L))
    // monotone non-increasing by pmi
    got.sliding(2).foreach(p =>
      if (p.length == 2) assert(p(0)._3 >= p(1)._3 - 1e-12))
    intercept[IllegalArgumentException](
      TA.collocations(docs, "doc_id", "text", minCount = 0))
  }

  test("bigramNll matches a hand-computed smoothed model") {
    import spark.implicits._
    val d = Seq((1L, "a b a b"), (2L, "a a")).toDF("doc_id", "text")
    // bigrams: doc1 = (a,b),(b,a),(a,b); doc2 = (a,a)
    // cb: (a,b)=2 (b,a)=1 (a,a)=1; cp: a·=3, b·=1; V=2 → a·V=1
    def pr(cb: Double, cp: Double) = (cb + 0.5) / (cp + 1.0)
    val exp1 = -(math.log(pr(2, 3)) * 2 + math.log(pr(1, 1))) / 3
    val exp2 = -math.log(pr(1, 3))
    val got = TA.bigramNll(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(math.abs(got(1L)._1 - exp1) < 1e-9 && got(1L)._2 == 3L)
    assert(math.abs(got(2L)._1 - exp2) < 1e-9 && got(2L)._2 == 1L)
  }

  test("kneserNeyNll matches a hand-computed interpolated KN model") {
    import spark.implicits._
    val d = Seq((1L, "a b a b"), (2L, "a a")).toDF("doc_id", "text")
    // bigram types: (a,b)=2 (b,a)=1 (a,a)=1 → N1+(··)=3
    // cp: a·=3 (2 types), b·=1 (1 type)
    // N1+(·,a)=2 (after b, after a); N1+(·,b)=1 (after a)
    val dd = 0.75
    def p(cb: Double, cp: Double, n1p: Double, n1w: Double) =
      math.max(cb - dd, 0.0) / cp + dd * n1p / cp * (n1w / 3.0)
    val pab = p(2, 3, 2, 1); val pba = p(1, 1, 1, 2); val paa = p(1, 3, 2, 2)
    val exp1 = -(math.log(pab) * 2 + math.log(pba)) / 3
    val exp2 = -math.log(paa)
    val got = TA.kneserNeyNll(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(math.abs(got(1L)._1 - exp1) < 1e-9 && got(1L)._2 == 3L)
    assert(math.abs(got(2L)._1 - exp2) < 1e-9 && got(2L)._2 == 1L)
    // probabilities stay in (0, 1): NLL strictly positive
    assert(got.values.forall(_._1 > 0))
    intercept[IllegalArgumentException](
      TA.kneserNeyNll(d, "doc_id", "text", discount = 1.5))
  }

  test("unigramNll matches a hand-computed smoothed model") {
    import spark.implicits._
    val d = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    // counts: a=2 b=2 c=1, N=5, V=3, denom = 5 + 0.5*3 = 6.5
    def p(c: Double) = (c + 0.5) / 6.5
    val exp1 = -(math.log(p(2)) * 2 + math.log(p(2))) / 3
    val exp2 = -(math.log(p(2)) + math.log(p(1))) / 2
    val got = TA.unigramNll(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - exp1) < 1e-9)
    assert(math.abs(got(2L) - exp2) < 1e-9)
    // rarer vocabulary ⇒ higher NLL
    assert(got(2L) > got(1L))
  }

  test("removeDuplicateSpans cuts found spans and passes clean docs through") {
    import spark.implicits._
    import graft.ml.Dedup
    val shared = "one two three four five six seven eight nine ten"
    val d = Seq(
      (1L, s"alpha starts here $shared and then ends alone"),
      (2L, s"beta begins now $shared closing differently here"),
      (3L, "completely unrelated text with no duplicated runs at all"))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, "doc_id", "text", k = 8)
    val out = Dedup.removeDuplicateSpans(d, "doc_id", "text", spans)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // both carriers lose the shared 10-token run (span extends to the
    // k-gram window ends), the singleton is rebuilt untouched
    assert(out(1L)._2 >= 10L, s"doc 1 removed too little: ${out(1L)}")
    assert(out(2L)._2 >= 10L, s"doc 2 removed too little: ${out(2L)}")
    assert(!out(1L)._3.contains("four five six"), s"span text survived: ${out(1L)}")
    assert(!out(2L)._3.contains("four five six"), s"span text survived: ${out(2L)}")
    assert(out(3L) == ((9L, 0L,
      "completely unrelated text with no duplicated runs at all")))
    // totals: n_tokens - n_removed == tokens in cleaned
    out.values.foreach { case (n, rem, txt) =>
      val kept = if (txt.isEmpty) 0 else txt.split(" ").length
      assert(n - rem == kept)
    }
  }

  test("ngramNovelty: hand-computed novel/common fractions, total over gram-free docs") {
    import spark.implicits._
    val d = Seq((1L, "x y z w"), (2L, "x y z q"), (3L, "x y z r"),
      (4L, "")).toDF("doc_id", "text")
    // 3-grams: "x y z" occurs 3x in 3 docs (common at >= 3);
    // "y z w"/"y z q"/"y z r" occur once each (novel)
    val got = TA.ngramNovelty(d, "doc_id", "text", n = 3, commonDocs = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    Seq(1L, 2L, 3L).foreach { id =>
      assert(got(id) == ((2L, 0.5, 0.5)), s"doc $id: ${got(id)}")
    }
    assert(got(4L) == ((0L, 0.0, 0.0)), s"empty doc: ${got(4L)}")
  }

  test("importanceWeights matches the hand-computed likelihood ratio and ranks target-like docs higher") {
    import spark.implicits._
    val d = Seq(
      (1L, "a a b", true),  // the target sample speaks a/b
      (2L, "a b c", false), // target-like
      (3L, "c c c", false)  // divergent
    ).toDF("doc_id", "text", "tgt")
    // raw: a=3 b=2 c=4, Nr=9, V=3; target: a=2 b=1 c=0, Nt=3
    def lr(ct: Double, cr: Double) =
      math.log((ct + 0.5) / (3 + 0.5 * 3)) - math.log((cr + 0.5) / (9 + 0.5 * 3))
    val exp2 = (lr(2, 3) + lr(1, 2) + lr(0, 4)) / 3
    val exp3 = lr(0, 4)
    val got = TA.importanceWeights(d, "doc_id", "text", col("tgt"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(2L) - exp2) < 1e-9)
    assert(math.abs(got(3L) - exp3) < 1e-9)
    // the target-distribution doc outweighs the divergent one, and
    // selection composes: keeping the top half drops the divergent doc
    assert(got(2L) > got(3L))
    val kept = graft.ml.Corpus.dropBottomByScore(
        d.join(TA.importanceWeights(d, "doc_id", "text", col("tgt")), "doc_id")
          .withColumn("stratum", lit("all")),
        "stratum", "weight", "doc_id", 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(2L) && !kept.contains(3L), s"kept: $kept")
  }

  test("bm25 matches a hand-computed score and ranks heavier matches first") {
    import spark.implicits._
    val d = Seq(
      (1L, "data data table extra words here"),   // 2×data 1×table, dl=6
      (2L, "data filler filler filler"),          // 1×data, dl=4
      (3L, "nothing relevant at all")             // no hits, dl=4
    ).toDF("doc_id", "text")
    val got = graft.ml.TextAnalysis
      .bm25(d, "doc_id", "text", Seq("data", "table"), topK = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    // doc 3 has no query terms: absent
    assert(got.map(_._1).toSet == Set(1L, 2L))
    // hand-compute doc 1: N=3, avgdl=14/3; df(data)=2, df(table)=1
    val avgdl = 14.0 / 3
    def idf(df: Int) = math.log((3 - df + 0.5) / (df + 0.5) + 1.0)
    def w(tf: Int, df: Int, dl: Long) =
      idf(df) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    val exp1 = math.floor((w(2, 2, 6) + w(1, 1, 6)) * 1e6 + 0.5) / 1e6
    val exp2 = math.floor(w(1, 2, 4) * 1e6 + 0.5) / 1e6
    val m = got.toMap
    assert(math.abs(m(1L) - exp1) < 1e-9, s"doc1 ${m(1L)} vs $exp1")
    assert(math.abs(m(2L) - exp2) < 1e-9, s"doc2 ${m(2L)} vs $exp2")
    // ordering: richer match first
    assert(got.head._1 == 1L)
  }

  test("rankNormalize: per-stratum percent ranks, deterministic and bounded") {
    import spark.implicits._
    val d = Seq(
      (1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 30.0),
      (4L, "b", 5.0), (5L, "b", 500.0)).toDF("id", "dom", "score")
    val got = graft.ml.Profile.rankNormalize(d, "score", "dom", "id")
      .select("id", "score_pct").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 0.0, 2L -> 0.5, 3L -> 1.0, 4L -> 0.0, 5L -> 1.0))
  }

  test("expectations: null handling, uniqueness occupancy, FK probe, assertAll") {
    import spark.implicits._
    import graft.ml.Expectations
    import graft.ml.Expectations.Expect
    val df = Seq(
      (Some(1L), Some(5.0), "A"), (Some(1L), Some(60.0), "A"),
      (Some(2L), None, "X"), (None, Some(7.0), "N"))
      .toDF("k", "v", "flag")
    val rep = Expectations.report(df, Seq(
      Expect.notNull("k"),
      Expect.inRange("v", 0.0, 50.0),
      Expect.isIn("flag", Seq("A", "N", "R")),
      // null v must FAIL a satisfies-predicate, never slip through
      Expect.satisfies("v_small", col("v") < 100.0)))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(rep("not_null(k)") == ((4L, 1L, false)))
    assert(rep("in_range(v,0.0,50.0)") == ((4L, 1L, false))) // null v not counted
    assert(rep("is_in(flag)") == ((4L, 1L, false)))
    assert(rep("v_small") == ((4L, 1L, false))) // the null row fails
    // uniqueness counts occupancy of over-full keys (2 rows under k=1)
    val uniq = Expectations.uniqueReport(df.filter(col("k").isNotNull), Seq("k"))
      .head()
    assert(uniq.getLong(1) == 3L && uniq.getLong(2) == 2L && !uniq.getBoolean(3))
    // FK: k=2 missing from the dim
    val dim = Seq(1L).toDF("id")
    val fk = Expectations.subsetReport(df, "k", dim, "id").head()
    assert(fk.getLong(1) == 3L && fk.getLong(2) == 1L && !fk.getBoolean(3))
    // assertAll throws with rule detail; passes silently when green
    val ex = intercept[IllegalStateException](
      Expectations.assertAll(Expectations.report(df, Seq(Expect.notNull("k")))))
    assert(ex.getMessage.contains("not_null(k)"))
    Expectations.assertAll(
      Expectations.report(df, Seq(Expect.notNull("flag"))))
    intercept[IllegalArgumentException](Expectations.report(df, Seq.empty))
  }

  test("perplexityBuckets: per-language LM, equal-frequency split, head < tail") {
    import spark.implicits._
    // six English docs: three from common vocabulary, three injecting
    // rare tokens; one French doc must be scored under ITS OWN model
    // (its tokens are unseen in English and vice versa)
    val d = Seq(
      (1L, "the cat sat on the mat", "en"),
      (2L, "the dog sat on the mat", "en"),
      (3L, "the cat and the dog sat", "en"),
      (4L, "zyx wvu tsr qpo nml kji", "en"),
      (5L, "the cat sat zyx wvu on", "en"),
      (6L, "the mat and the cat sat", "en"),
      (7L, "le chat dort sur le tapis", "fr")).toDF("doc_id", "text", "lang")
    val got = TA.perplexityBuckets(d, "doc_id", "text", "lang", nBuckets = 3)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("lang"), r.getAs[Double]("nll"),
          r.getAs[Long]("bucket"))).toMap
    // 6 en docs over 3 buckets -> 2 per bucket; fr alone in bucket 1
    val en = got.filter(_._2._1 == "en").values
    assert(en.groupBy(_._3).view.mapValues(_.size).toMap ==
      Map(1L -> 2, 2L -> 2, 3L -> 2))
    assert(got(7L)._3 == 1L)
    // the all-rare doc is tail; within a language, buckets are ordered
    // by NLL (head's max <= tail's min)
    assert(got(4L)._3 == 3L)
    val byBucket = en.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byBucket(1L).max <= byBucket(2L).min + 1e-12)
    assert(byBucket(2L).max <= byBucket(3L).min + 1e-12)
    // the French doc's NLL reflects the 6-token fr corpus, not the en LM:
    // fr counts: le=2 others=1, N=6 V=5 -> denom = 6 + 2.5 = 8.5
    def p(c: Double) = (c + 0.5) / 8.5
    val expFr = -(2 * math.log(p(2)) + 4 * math.log(p(1))) / 6
    assert(math.abs(got(7L)._2 - expFr) < 1e-9)
    intercept[IllegalArgumentException](
      TA.perplexityBuckets(d, "doc_id", "text", "lang", nBuckets = 0))
  }

  test("bucketByCutoffs assigns by threshold with no sort, rejects bad cutoffs") {
    import spark.implicits._
    val d = Seq((1L, 0.5), (2L, 1.0), (3L, 1.5), (4L, 9.9))
      .toDF("id", "nll")
    val got = TA.bucketByCutoffs(d, "nll", Seq(1.0, 2.0))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("bucket")).toMap
    // <=1.0 -> 1, (1,2] -> 2, >2 -> 3 (boundary value stays in the
    // lower bucket)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    intercept[IllegalArgumentException](
      TA.bucketByCutoffs(d, "nll", Seq(2.0, 1.0)))
    intercept[IllegalArgumentException](
      TA.bucketByCutoffs(d, "nll", Seq.empty))
  }

  test("zipfFit recovers an exact power law and counts the vocabulary") {
    import spark.implicits._
    // freqs 8,4,2,1 over ranks 1..4: ln f = ln 8 - (ln 2 / ln 2) ... an
    // exact slope of log2-halving in natural log space:
    // y = ln(16) - 1.0 * x*ln(2)/ln(..) -- build exactly: f(r) = 16 / 2^r
    // ln f = ln 16 - r ln 2, x = ln r (NOT linear in r), so instead use
    // f(r) = c / r (slope exactly -1): freqs 12, 6, 4, 3 for ranks 1,2,3,4
    val words =
      Seq.fill(12)("aa") ++ Seq.fill(6)("bb") ++ Seq.fill(4)("cc") ++
        Seq.fill(3)("dd")
    val df = Seq(words.mkString(" ")).toDF("text")
    val r = graft.ml.TextAnalysis.zipfFit(df, "text").head()
    assert(r.getAs[Long]("n_types") == 4L)
    assert(r.getAs[Long]("n_tokens") == 25L)
    assert(math.abs(r.getAs[Double]("slope") - (-1.0)) < 1e-12)
    assert(math.abs(r.getAs[Double]("intercept") - math.log(12.0)) < 1e-12)
    assert(math.abs(r.getAs[Double]("r2") - 1.0) < 1e-12)
  }

  test("ppmiCooccurrence matches a brute-force PPMI on a tiny corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"),
      (2L, "a b c a b c"),
      (3L, "c d c d")).toDF("doc_id", "text")
    val got = graft.ml.TextAnalysis
      .ppmiCooccurrence(docs, "doc_id", "text", window = 2, topK = 10,
        minPair = 2L)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // brute force: all ordered pairs within distance 1..2, symmetrized
    val corpus = Seq("a b a b a b", "a b c a b c", "c d c d")
      .map(_.split(" ").toSeq)
    val ordered = corpus.flatMap { ws =>
      ws.indices.flatMap(i => (i + 1 to math.min(i + 2, ws.size - 1))
        .map(j => (ws(i), ws(j))))
    }
    val sym = ordered ++ ordered.map(_.swap)
    val cnt = sym.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= 2L)
    val cw = cnt.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n = cnt.values.sum.toDouble
    cnt.foreach { case ((w, c), k) =>
      val ppmi = math.max(0.0, math.log(n * k / (cw(w).toDouble * cw(c))))
      if (ppmi > 0) {
        assert(got.contains((w, c)), s"missing pair ($w,$c)")
        val (gk, gp) = got((w, c))
        assert(gk == k && math.abs(gp - ppmi) < 1e-12,
          s"($w,$c): got ($gk,$gp) want ($k,$ppmi)")
      }
    }
    // independent/under-expected pairs (ppmi = 0) are never reported
    got.values.foreach { case (_, p) => assert(p > 0) }
  }

  test("goodTuringUnigram: LGT closed form, unseen mass reserved") {
    import spark.implicits._
    // vocabulary with counts 1,1,1,2,2,3 -> N_r = {1:3, 2:2, 3:1}
    val text = "a b c d d e e f f f"
    val got = graft.ml.TextAnalysis
      .goodTuringUnigram(Seq(text).toDF("text"), "text")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    // brute force the same LGT fit
    val nr = Map(1 -> 3.0, 2 -> 2.0, 3 -> 1.0)
    val pts = nr.toSeq.map { case (r, n) => (math.log(r), math.log(n)) }
    val k = pts.size.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val b = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    def cStar(r: Int): Double = (r + 1.0) * math.pow((r + 1.0) / r, b)
    val n = 10.0
    val z = nr.map { case (r, cnt) => cnt * cStar(r) }.sum
    val pScale = (1.0 - 3.0 / n) / z
    Seq("a" -> 1, "d" -> 2, "f" -> 3).foreach { case (w, r) =>
      val (gc, gcs, gp) = got(w)
      assert(gc == r.toLong)
      assert(math.abs(gcs - cStar(r)) < 1e-12, s"$w: $gcs vs ${cStar(r)}")
      assert(math.abs(gp - cStar(r) * pScale) < 1e-12)
    }
    // observed probabilities sum to 1 - N1/N = 0.7
    val totalP = got.values.map(_._3).sum
    assert(math.abs(totalP - 0.7) < 1e-12, totalP)
  }

  test("charEntropy: uniform alphabet = ln k, repeats = 0, empty absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abcd"),        // 4 distinct chars, uniform -> ln 4
      (2L, "aaaa"),        // one char -> 0
      (3L, "aab"),         // p = (2/3, 1/3)
      (4L, "!!!")          // normalizes to empty -> absent
    ).toDF("doc_id", "text")
    val got = graft.ml.TextAnalysis.charEntropy(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(got(1L) == ((4L, 4L, got(1L)._3)) &&
      math.abs(got(1L)._3 - math.log(4)) < 1e-12)
    assert(got(2L)._3 == 0.0 && got(2L)._2 == 1L)
    val h3 = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3))
    assert(math.abs(got(3L)._3 - h3) < 1e-12)
    assert(!got.contains(4L) && got.size == 3)
  }

  test("vocabularyOverlap: identical, partial, and disjoint pairs") {
    import spark.implicits._
    val docs = Seq(
      ("A", "cat dog bird"),
      ("B", "cat dog bird"),     // identical vocab to A
      ("C", "cat fish"),         // shares 1 of A's 3
      ("D", "xyzzy quux")        // disjoint
    ).toDF("src", "text")
    val got = graft.ml.TextAnalysis
      .vocabularyOverlap(docs, "src", "text")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got.size == 6) // all 4C2 pairs, zero-overlap included
    assert(got(("A", "B")) == ((3L, 3L, 3L, 1.0)))
    assert(got(("A", "C")) == ((3L, 2L, 1L, 0.25)))
    assert(got(("A", "D")) == ((3L, 2L, 0L, 0.0)))
    assert(got(("C", "D"))._4 == 0.0)
    // minCount filters hapax words out of the vocabulary entirely:
    // every word above appears once per stratum, so nothing survives
    val filtered = graft.ml.TextAnalysis
      .vocabularyOverlap(docs, "src", "text", minCount = 2L)
      .collect()
    assert(filtered.isEmpty, filtered.toSeq)
  }

  test("dispersion: corpus-shaped word ~ 0, single-stratum word high") {
    import spark.implicits._
    // strata of equal token mass; "even" spreads exactly like the
    // corpus, "clump" concentrates in stratum A
    val docs = Seq(
      ("A", "even even clump clump clump clump"),
      ("B", "even even filler filler filler filler"),
      ("C", "even even filler filler filler filler")).toDF("src", "text")
    val got = graft.ml.TextAnalysis
      .dispersion(docs, "src", "text", minCount = 4L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // every stratum holds 6 tokens -> t_s = 1/3 each
    assert(got("even")._1 == 6L && math.abs(got("even")._2) < 1e-12)
    // clump: v = (1,0,0); DP = (|1-1/3| + 1/3 + 1/3)/2 = 2/3
    assert(got("clump")._1 == 4L)
    assert(math.abs(got("clump")._2 - 2.0 / 3) < 1e-12)
    // filler: v = (0, 1/2, 1/2); DP = (1/3 + 1/6 + 1/6)/2 = 1/3
    assert(math.abs(got("filler")._2 - 1.0 / 3) < 1e-12)
    // rare words below minCount are not reported
    assert(!got.contains("zzz") && got.size == 3)
  }

  test("keyness puts a stratum's marker word on top with positive z") {
    import spark.implicits._
    // "alpha" is exclusive to stratum A and frequent there; shared
    // filler dominates both strata
    val docs = Seq(
      ("A", "alpha alpha alpha common common common word word"),
      ("A", "alpha alpha common word word common"),
      ("B", "beta beta beta common common common word word"),
      ("B", "beta beta common word word common")).toDF("src", "text")
    val got = graft.ml.TextAnalysis.keyness(docs, "src", "text",
        alpha0 = 10.0, topK = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    val a = got.filter(_._1 == "A").sortBy(-_._5)
    val b = got.filter(_._1 == "B").sortBy(-_._5)
    assert(a.head._2 == "alpha" && a.head._5 > 0, a.toSeq)
    assert(b.head._2 == "beta" && b.head._5 > 0, b.toSeq)
    // marker counts are exact: 5 in-stratum, 0 elsewhere
    assert(a.head._3 == 5L && a.head._4 == 0L)
    // shared filler is never a top keyword for either stratum
    assert(!got.exists(t => t._2 == "common" || t._2 == "word"))
  }

  test("tokenDiversity: uniform stratum vs degenerate stratum") {
    import spark.implicits._
    val df = Seq(
      ("u", "aa bb cc dd"),        // uniform over 4 types
      ("d", "zz zz zz zz")         // one type on repeat
    ).toDF("source", "text")
    val got = graft.ml.TextAnalysis.tokenDiversity(df, "source", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    val u = got("u")
    assert(u.getAs[Long]("n_tokens") == 4L && u.getAs[Long]("n_types") == 4L)
    assert(math.abs(u.getAs[Double]("shannon") - math.log(4.0)) < 1e-12)
    assert(math.abs(u.getAs[Double]("simpson") - 0.25) < 1e-12)
    // equal frequencies -> Gini 0: 2*(1+2+3+4)/(4*4) - 5/4 = 20/16 - 5/4
    assert(math.abs(u.getAs[Double]("gini")) < 1e-12)
    val d = got("d")
    assert(d.getAs[Long]("n_tokens") == 4L && d.getAs[Long]("n_types") == 1L)
    assert(math.abs(d.getAs[Double]("shannon")) < 1e-12)
    assert(math.abs(d.getAs[Double]("simpson") - 1.0) < 1e-12)
  }

  test("embeddingDrift: shifted dimension flagged, identical dims smd 0") {
    import spark.implicits._
    // dim 0 shifted by +2 between the halves; dim 1 identical
    val a = Seq((1L, Array(0.0f, 5.0f)), (2L, Array(2.0f, 7.0f)),
      (3L, Array(4.0f, 9.0f))).toDF("id", "v")
    val b = Seq((4L, Array(2.0f, 5.0f)), (5L, Array(4.0f, 7.0f)),
      (6L, Array(6.0f, 9.0f))).toDF("id", "v")
    val got = graft.ml.Profile.embeddingDrift(a, b, "v")
      .collect().map(r => r.getLong(0) -> r).toMap
    // var_pop of {0,2,4} = 8/3 both sides; smd = 2 / sqrt(8/3)
    val d0 = got(0L)
    assert(math.abs(d0.getAs[Double]("mean_a") - 2.0) < 1e-12)
    assert(math.abs(d0.getAs[Double]("mean_b") - 4.0) < 1e-12)
    assert(math.abs(d0.getAs[Double]("smd") - 2.0 / math.sqrt(8.0 / 3)) < 1e-12)
    assert(got(1L).getAs[Double]("smd") == 0.0 ||
      math.abs(got(1L).getAs[Double]("smd")) < 1e-12)
    // degenerate: both variances 0 and equal means -> smd defined 0
    val c1 = Seq((1L, Array(1.0f))).toDF("id", "v")
    val c2 = Seq((2L, Array(1.0f))).toDF("id", "v")
    assert(graft.ml.Profile.embeddingDrift(c1, c2, "v")
      .head().getAs[Double]("smd") == 0.0)
  }

  test("cardCounts/scrubCards: Luhn gates candidates, scrub only valid") {
    import spark.implicits._
    val df = Seq(
      // valid Visa test PAN, spaced grouping
      (1L, "pay 4539 5787 6362 1486 today"),
      // same digits, last one bumped -> checksum fails
      (2L, "pay 4539 5787 6362 1487 today"),
      // 16-digit order id (not Luhn-valid) + a valid hyphenated card
      (3L, "order 1111111111112345 card 4539-5787-6362-1486 ok"),
      // too short / too long digit runs: no candidates at all
      (4L, "zip 94103 phone 555-1234 n 123456789012")
    ).toDF("id", "t")
    val got = df.select(col("id"),
        graft.ml.TextAnalysis.cardCounts(col("t")).as("c"),
        graft.ml.TextAnalysis.scrubCards(col("t")).as("s"))
      .collect().map(r => r.getLong(0) ->
        ((r.getStruct(1).getInt(0), r.getStruct(1).getInt(1),
          r.getString(2)))).toMap
    assert(got(1L) == ((1, 1, "pay <CARD> today")))
    assert(got(2L) == ((1, 0, "pay 4539 5787 6362 1487 today")))
    assert(got(3L)._1 == 2 && got(3L)._2 == 1)
    assert(got(3L)._3 == "order 1111111111112345 card <CARD> ok")
    assert(got(4L) == ((0, 0, "zip 94103 phone 555-1234 n 123456789012")))
  }

  test("marginMining: mutual best pairs mined, hub demoted below margin 1") {
    import spark.implicits._
    val a = Seq(
      (0L, Array(1f, 0f)),
      (2L, Array(0f, 1f))).toDF("id", "vec")
    val b = Seq(
      (1L, Array(0.98f, 0.2f)),    // a1's true pair
      (3L, Array(0.2f, 0.98f)),    // a2's true pair
      (5L, Array(0.707f, 0.707f))  // hub: cos ~0.707 to BOTH a vectors
    ).toDF("id", "vec")
    val mined = graft.ml.Similarity.marginMining(a, b, k = 2, minMargin = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // the two true pairs come out, each well above margin 1
    assert(mined.keySet == Set((0L, 1L), (2L, 3L)))
    assert(mined.values.forall(_ > 1.3), mined.toString)
    // the hub's raw cosine to a1 is high (~0.707) but its margin is
    // sub-1 because ITS OWN neighborhood mean is high — the exact
    // hubness correction the ratio margin exists for: no hub pair
    // mined even with the threshold dropped to 0.95
    val lax = graft.ml.Similarity.marginMining(a, b, k = 2, minMargin = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!lax.exists(_._2 == 5L), lax.toString)
  }
  test("splitSentences: abbreviations and decimals protected, quotes open") {
    import spark.implicits._
    val got = Seq((1L,
      "Dr. Smith saw 3 items. It cost $4.50 today! \"Why?\" No. 7 is next. End."))
      .toDF("id", "t")
      .select(graft.ml.TextAnalysis.splitSentences(org.apache.spark.sql.functions.col("t")).as("s"))
      .head().getSeq[String](0)
    assert(got == Seq(
      "Dr. Smith saw 3 items.",
      "It cost $4.50 today!",
      "\"Why?\"",
      "No. 7 is next.",
      "End."), got.toString)
    // e.g./i.e. never split; blank input -> empty array
    val eg = Seq((1L, "Use tools, e.g. hammers, wisely. Next one."))
      .toDF("id", "t")
      .select(graft.ml.TextAnalysis.splitSentences(org.apache.spark.sql.functions.col("t")).as("s"))
      .head().getSeq[String](0)
    assert(eg == Seq("Use tools, e.g. hammers, wisely.", "Next one."))
  }

  test("strataCentroidSimilarity: identical strata 1, orthogonal 0") {
    import spark.implicits._
    val df = Seq(
      ("a", Array(1f, 0f)), ("a", Array(1f, 0f)),
      ("b", Array(2f, 0f)),                       // same direction as a
      ("c", Array(0f, 3f)), ("c", Array(0f, 1f))  // orthogonal
    ).toDF("src", "vec")
    val got = graft.ml.Similarity
      .strataCentroidSimilarity(df, "src", "vec")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(math.abs(got(("a", "b")) - 1.0) < 1e-12)
    assert(math.abs(got(("a", "c"))) < 1e-12)
    assert(math.abs(got(("b", "c"))) < 1e-12)
  }

}
