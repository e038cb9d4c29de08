package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, and an LSH
  * (random-hyperplane) bucketed variant as the scale path.
  *
  * The dot products are pure Column expressions (`zip_with` +
  * `aggregate`) — codegen'd, no UDF. At 100 TB the brute-force path is
  * only for (small query set) × (large corpus): the corpus scan is
  * linear and the per-row cost is the query count; the LSH path cuts
  * the candidate set per query to one bucket.
  */
object Similarity {

  /** Σ aᵢ·bᵢ over two float-array columns, computed in double — a
    * native codegen'd Expression (graft.functions.DotProduct), not an
    * interpreted zip_with lambda.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_f(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused single-pass cosine (native Expression). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine_f(a, b)

  /** Typed kernels for the hot loops — primitive while-loops over the
    * float arrays, no per-pair array allocation.
    */
  object VecUtil {
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))
  }

  /** Exact top-k neighbors for each query vector: the query set is
    * collected and broadcast (small by contract — it is the "probe"
    * side), the corpus is scanned ONCE with a typed kernel, and
    * per-query top-k is a bounded-buffer aggregation — the shuffle
    * carries k rows per (query, task), never the corpus. This is the
    * shape that survives a 100 TB corpus.
    * `queries`/`corpus`: (id, vec: Array[Float]).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qs = queries.select(col("id"), col("vec")).as[(Long, Array[Float])]
      .collect().map { case (id, v) => (id, v, VecUtil.norm(v)) }
    val bq = spark.sparkContext.broadcast(qs)

    // the |corpus|×|queries| dot kernel is pure CPU over a tiny input
    // — without the parallelism floor a one-split scan (or an AQE-
    // coalesced single partition) runs the whole quadratic kernel in
    // ONE task (r12 metrics: q_embed_hubness spent 2×3.6 s single-
    // task here)
    val scored = graft.core.Parallelism
      .ensure(corpus.select(col("id"), col("vec")))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val queries = bq.value
        it.flatMap { case (cid, cv) =>
          val cn = VecUtil.norm(cv)
          queries.iterator.collect {
            case (qid, qv, qn) if qid != cid =>
              (qid, (VecUtil.dot(qv, cv) / (qn * cn), cid))
          }
        }
      }

    // bounded per-query top-k (cos desc, cid asc tie-break): partial
    // top-k on the map side via the PQ-style aggregator
    implicit val ord: Ordering[(Double, Long)] =
      Ordering.by((t: (Double, Long)) => (-t._1, t._2))(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
    new graft.typed.Grouped(scored)
      .sortedTake(k)
      .ds.flatMap { case (qid, tops) =>
        tops.map { case (cos, cid) => (qid, cid, cos) }
      }
      .toDF("qid", "cid", "cos")
  }

  /** Int8 scalar quantization kernels. Per-vector max-abs scale:
    * qᵢ = round(127·xᵢ/max|x|), so x ≈ (max|x|/127)·q. Cosine is
    * SCALE-FREE — cos(x,y) ≈ intDot(qx,qy)/(|qx|·|qy|) with the scales
    * cancelling — so ranking needs only the int8 vectors: 4× less
    * memory/IO than float32, and the error per dimension is ≤ 1/254 of
    * the vector's max component (≈0.5 quantization step).
    */
  object QuantUtil {
    def maxAbs(v: Array[Float]): Float = {
      var m = 0f; var i = 0
      while (i < v.length) { val a = math.abs(v(i)); if (a > m) m = a; i += 1 }
      m
    }
    /** int8 codes; all-zero input stays all-zero. */
    def quantize(v: Array[Float]): Array[Byte] = {
      val m = maxAbs(v)
      val s = if (m == 0f) 0f else 127f / m
      val q = new Array[Byte](v.length)
      var i = 0
      while (i < v.length) {
        val r = math.round(v(i) * s)
        q(i) = (if (r > 127) 127 else if (r < -127) -127 else r).toByte
        i += 1
      }
      q
    }
    /** Σ aᵢ·bᵢ in integer arithmetic (exact: |Σ| ≤ n·127² fits Long). */
    def intDot(a: Array[Byte], b: Array[Byte]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i).toLong * b(i); i += 1 }
      s
    }
    def intNorm(a: Array[Byte]): Double = math.sqrt(intDot(a, a).toDouble)
  }

  /** Quantize an embedding table (id, vec: Array[Float]) into the
    * compact ANN corpus representation: (id, qvec: Binary, qscale:
    * Float, qnorm: Double). `qscale` (= max|x|/127) dequantizes for
    * dot/L2 uses; cosine ranking reads only qvec/qnorm. Write THIS to
    * parquet as the serving corpus — at 10⁹ × 768-dim vectors the
    * difference between a 3 TB and a 0.75 TB scan per query batch.
    */
  def quantizeInt8(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("id"), col("vec")).as[(Long, Array[Float])]
      .map { case (id, v) =>
        val q = QuantUtil.quantize(v)
        (id, q, QuantUtil.maxAbs(v) / 127f, QuantUtil.intNorm(q))
      }
      .toDF("id", "qvec", "qscale", "qnorm")
  }

  /** Brute-force cosine top-k over an int8-quantized corpus (from
    * [[quantizeInt8]]): same broadcast-probe/bounded-top-k shape as
    * [[bruteForceTopK]], but the scan reads ¼ the bytes and the inner
    * loop is integer multiply-adds. Queries stay float and are
    * quantized driver-side. Output (qid, cid, cos) with cos the
    * quantized approximation.
    */
  def bruteForceTopKQuantized(queries: DataFrame, corpusQ: DataFrame,
      k: Int): DataFrame = {
    val spark = corpusQ.sparkSession
    import spark.implicits._
    val qs = queries.select(col("id"), col("vec")).as[(Long, Array[Float])]
      .collect().map { case (id, v) =>
        val q = QuantUtil.quantize(v)
        (id, q, QuantUtil.intNorm(q))
      }
    val bq = spark.sparkContext.broadcast(qs)
    val scored = corpusQ.select(col("id"), col("qvec"), col("qnorm"))
      .as[(Long, Array[Byte], Double)]
      .mapPartitions { it =>
        val queries = bq.value
        it.flatMap { case (cid, cv, cn) =>
          queries.iterator.collect {
            case (qid, qv, qn) if qid != cid =>
              (qid, (QuantUtil.intDot(qv, cv) / (qn * cn), cid))
          }
        }
      }
    implicit val ord: Ordering[(Double, Long)] =
      Ordering.by((t: (Double, Long)) => (-t._1, t._2))(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
    new graft.typed.Grouped(scored)
      .sortedTake(k)
      .ds.flatMap { case (qid, tops) =>
        tops.map { case (cos, cid) => (qid, cid, cos) }
      }
      .toDF("qid", "cid", "cos")
  }

  /** Random-hyperplane signature: `nBits` sign bits of projections
    * onto fixed pseudo-random directions (deterministic for a seed).
    * Cosine-similar vectors agree on most bits (Charikar '02).
    */
  def hyperplaneSignature(vec: Column, dim: Int, nBits: Int = 16,
      seed: Long = 42L): Column = {
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
    planes.zipWithIndex.foldLeft(lit(0L)) { case (acc, (plane, b)) =>
      val proj = aggregate(
        zip_with(vec, array(plane.map(lit): _*),
          (x, p) => x.cast("double") * p),
        lit(0.0), (s, v) => s + v)
      acc.bitwiseOR(when(proj > 0, lit(1L << b)).otherwise(lit(0L)))
    }
  }

  /** ANN via LSH buckets: group the corpus by signature bucket, score
    * only same-bucket candidates, top-k per query. Recall < 1 by
    * construction; `nBits` trades bucket size vs recall.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, dim: Int, k: Int,
      nBits: Int = 8, seed: Long = 42L): DataFrame = {
    val sig = (v: Column) => hyperplaneSignature(v, dim, nBits, seed)
    val q = broadcast(queries.select(col("id").as("qid"), col("vec").as("qvec"))
      .withColumn("bucket", sig(col("qvec"))))
    val c = corpus.select(col("id").as("cid"), col("vec").as("cvec"))
      .withColumn("bucket", sig(col("cvec")))
    val scored = c.join(q, "bucket")
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", cosine(col("qvec"), col("cvec")))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("qid", "cid", "cos")
  }

  /** Deterministic axis-pair LSH signature for one band: bit j is
    * `sign(v[2*(band*bitsPerBand+j)] + v[2*(band*bitsPerBand+j)+1])` —
    * an axis-aligned projection (the degenerate hyperplane family with
    * ±coordinate directions). Unlike the Gaussian hyperplanes of
    * [[hyperplaneSignature]] this is pure double addition + comparison,
    * so an external engine (the DuckDB oracle) reproduces the buckets
    * bit-for-bit.
    */
  def axisBandSignature(vec: Column, band: Int, bitsPerBand: Int): Column =
    (0 until bitsPerBand).foldLeft(lit(0L)) { (acc, j) =>
      val i = band * bitsPerBand + j
      val proj = element_at(vec, 2 * i + 1).cast("double") +
        element_at(vec, 2 * i + 2).cast("double")
      acc + when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }

  /** Banded ANN with the deterministic axis signature: a candidate is
    * any corpus row sharing at least one band bucket with the query
    * (OR-amplification), re-scored with exact cosine, bounded top-k.
    * The corpus is scanned once; the query side is broadcast; only
    * candidate pairs reach the shuffle. Requires
    * `dim >= 2 * nBands * bitsPerBand`.
    */
  def bandedLshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nBands: Int = 4, bitsPerBand: Int = 8): DataFrame = {
    def sigs(df: DataFrame, idName: String, vecName: String) = df
      .select(col("id").as(idName), col("vec").as(vecName))
      .withColumn("__bands", explode(array(
        (0 until nBands).map(b => struct(lit(b).as("band"),
          axisBandSignature(col(vecName), b, bitsPerBand).as("sig"))): _*)))
      .select(col(idName), col(vecName),
        col("__bands.band").as("band"), col("__bands.sig").as("sig"))
    val qs = broadcast(sigs(queries, "qid", "qvec"))
    val cs = sigs(corpus, "cid", "cvec")
    // same (band, sig) ⇒ candidate; dedup multi-band collisions to one
    // row per (qid, cid) BEFORE scoring so each cosine runs once
    val w = Window.partitionBy("qid", "cid").orderBy("band")
    val cand = cs.join(qs, Seq("band", "sig"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val scored = cand.withColumn("cos", cosine(col("qvec"), col("cvec")))
    val topw = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rn", row_number().over(topw))
      .filter(col("rn") <= k)
      .select("qid", "cid", "cos")
  }

  /** IVF (inverted-file) ANN: coarse-quantize the corpus onto
    * `nCentroids` sampled centroids, probe the `nProbe` nearest lists
    * per query — the standard scale path when hyperplane buckets are
    * too coarse. Centroids come from a deterministic sample (a k-means
    * refinement can replace pickCentroids without touching the rest).
    *
    * Centroid training is memoized on the corpus PLAN (see
    * `centroidCache`): if the corpus files are rewritten in-session,
    * call `PipelineCaches.unpersistAll()` before querying again.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 2, seed: Long = 42L,
      kmeansIters: Int = 2, corpusAssign: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val corpusVecs = graft.core.PipelineCaches.persistTracked(
      corpus.select(col("id"), col("vec")).as[(Long, Array[Float])])
    val cents = trainCentroids(corpusVecs, nCentroids, seed, kmeansIters)
      .zipWithIndex.map { case (v, i) => (i, v, VecUtil.norm(v)) }
    val bc = spark.sparkContext.broadcast(cents)

    def assign(n: Int) = (idVec: (Long, Array[Float])) => {
      val (id, v) = idVec
      val vn = VecUtil.norm(v)
      bc.value.map { case (ci, cv, cn) =>
        (ci, VecUtil.dot(v, cv) / (vn * cn))
      }.sortBy(-_._2).take(n).toSeq.map { case (ci, _) => (ci, id, v) }
    }

    // corpusAssign > 1 = soft assignment: each corpus vector joins its
    // `corpusAssign` nearest lists, cutting the probability that a
    // query's probe set misses a true neighbor's list — the standard
    // IVF replication/recall trade (x corpusAssign storage)
    val corpusLists = corpusVecs.flatMap(assign(corpusAssign))
      .toDF("centroid", "cid", "cvec")
    val queryLists = broadcast(queries.select(col("id"), col("vec"))
      .as[(Long, Array[Float])].flatMap(assign(nProbe))
      .toDF("centroid", "qid", "qvec"))

    val scored0 = corpusLists.join(queryLists, "centroid")
      .filter(col("qid") =!= col("cid"))
      .as[(Int, Long, Array[Float], Long, Array[Float])]
      .map { case (_, cid, cv, qid, qv) =>
        (qid, (VecUtil.dot(qv, cv) / (VecUtil.norm(qv) * VecUtil.norm(cv)), cid))
      }
    // soft assignment can surface the same (qid, cid) via several
    // lists; dedup so the bounded top-k never returns duplicates
    val scored = if (corpusAssign > 1) scored0.distinct() else scored0
    implicit val ord: Ordering[(Double, Long)] =
      Ordering.by((t: (Double, Long)) => (-t._1, t._2))(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
    new graft.typed.Grouped(scored)
      .sortedTake(k)
      .ds.flatMap { case (qid, tops) =>
        tops.map { case (cos, cid) => (qid, cid, cos) }
      }
      .toDF("qid", "cid", "cos")
  }

  /** K-means coarse clustering of an (id, vec) corpus: train
    * `nCentroids` centroids (deterministic for a fixed seed) and emit
    * each vector's `softAssign` nearest cluster ids as
    * `(centroid, id, vec)` rows. The blocking primitive shared by IVF
    * ANN (corpus inverted lists) and SemDeDup-style semantic dedup —
    * one linear scan against a broadcast centroid table, no shuffle.
    */
  def clusterAssignments(corpus: DataFrame, nCentroids: Int,
      softAssign: Int = 1, seed: Long = 42L,
      kmeansIters: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = graft.core.PipelineCaches.persistTracked(
      corpus.select(col("id"), col("vec")).as[(Long, Array[Float])])
    val cents = trainCentroids(vecs, nCentroids, seed, kmeansIters)
      .zipWithIndex.map { case (v, i) => (i, v, VecUtil.norm(v)) }
    val bc = spark.sparkContext.broadcast(cents)
    vecs.flatMap { case (id, v) =>
      val vn = VecUtil.norm(v)
      bc.value.map { case (ci, cv, cn) =>
        (ci, VecUtil.dot(v, cv) / (vn * cn + 1e-12))
      }.sortBy(-_._2).take(softAssign).toSeq.map { case (ci, _) => (ci, id, v) }
    }.toDF("centroid", "id", "vec")
  }

  /** Memo of trained centroid sets keyed by (corpus plan semantics,
    * training params). Training is deterministic for a fixed seed, so
    * the float and int8 IVF paths over the same corpus share ONE
    * k-means run instead of each paying the sample + Lloyd scans —
    * at 100 TB that is the difference between one and two corpus
    * passes per (float, quantized) query pair. Cleared with the
    * pipeline caches so a long session can't hold stale corpora.
    *
    * INVALIDATION CONTRACT: the key is `Dataset.semanticHash()` —
    * a hash of the logical PLAN, not the data. Re-reading the same
    * path after its files were rewritten in-session produces the
    * same plan hash and would return the stale centroids. Callers
    * that mutate an indexed corpus mid-session MUST call
    * `PipelineCaches.unpersistAll()` (which clears this memo) before
    * rebuilding the index; batch jobs that read an immutable
    * snapshot per run (the intended 100 TB shape) need nothing.
    */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long, Int), Array[Array[Float]]]()
  graft.core.PipelineCaches.onClear(() => centroidCache.clear())

  /** Sample `nCentroids` seeds and refine with `kmeansIters` Lloyd
    * steps: distributed cosine assignment emits per-partition partial
    * (sum, count) per centroid; the tiny partial set merges on the
    * driver. Deterministic for a fixed seed (and memoized on it).
    */
  private[ml] def trainCentroids(corpusVecs: Dataset[(Long, Array[Float])],
      nCentroids: Int, seed: Long, kmeansIters: Int): Array[Array[Float]] =
    centroidCache.computeIfAbsent(
      (corpusVecs.semanticHash(), nCentroids, seed, kmeansIters),
      _ => trainCentroidsUncached(corpusVecs, nCentroids, seed, kmeansIters))

  private def trainCentroidsUncached(corpusVecs: Dataset[(Long, Array[Float])],
      nCentroids: Int, seed: Long, kmeansIters: Int): Array[Array[Float]] = {
    val spark = corpusVecs.sparkSession
    import spark.implicits._
    var centroids = corpusVecs
      .sample(withReplacement = false, 0.5, seed)
      .limit(nCentroids).collect().map(_._2)
    require(centroids.nonEmpty, "empty corpus")
    (1 to kmeansIters).foreach { _ =>
      val cbc = spark.sparkContext.broadcast(
        centroids.zipWithIndex.map { case (v, i) => (i, v, VecUtil.norm(v)) })
      val dim = centroids.head.length
      val partials = corpusVecs.mapPartitions { it =>
        val cents = cbc.value
        val acc = Array.fill(cents.length)(new Array[Double](dim))
        val counts = new Array[Long](cents.length)
        it.foreach { case (_, v) =>
          val vn = VecUtil.norm(v)
          var best = 0
          var bestScore = Double.MinValue
          cents.foreach { case (ci, cv, cn) =>
            val s = VecUtil.dot(v, cv) / (vn * cn + 1e-12)
            if (s > bestScore) { bestScore = s; best = ci }
          }
          var d = 0
          while (d < dim) { acc(best)(d) += v(d); d += 1 }
          counts(best) += 1
        }
        acc.indices.iterator.filter(counts(_) > 0)
          .map(i => (i, acc(i), counts(i)))
      }.collect()
      centroids = centroids.zipWithIndex.map { case (old, i) =>
        val mine = partials.filter(_._1 == i)
        val n = mine.map(_._3).sum
        if (n == 0) old
        else {
          val sum = new Array[Double](dim)
          mine.foreach { case (_, s, _) =>
            var d = 0
            while (d < dim) { sum(d) += s(d); d += 1 }
          }
          sum.map(x => (x / n).toFloat)
        }
      }
    }
    centroids
  }

  /** IVF over an int8-quantized corpus — the production ANN shape:
    * coarse centroids bound the candidate set per probe, the int8
    * codes cut list storage/scan 4×, and cosine ranks on integer
    * dots (scales cancel; see [[QuantUtil]]). Same
    * centroids/assignment as [[ivfTopK]] (training runs in float; the
    * lists store codes), so recall differs from float IVF only by the
    * quantization's ≤0.03 cosine error.
    */
  def ivfTopKQuantized(queries: DataFrame, corpus: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 2, seed: Long = 42L,
      kmeansIters: Int = 2, corpusAssign: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val corpusVecs = graft.core.PipelineCaches.persistTracked(
      corpus.select(col("id"), col("vec")).as[(Long, Array[Float])])
    val cents = trainCentroids(corpusVecs, nCentroids, seed, kmeansIters)
      .zipWithIndex.map { case (v, i) => (i, v, VecUtil.norm(v)) }
    val bc = spark.sparkContext.broadcast(cents)

    def assignQ(n: Int) = (idVec: (Long, Array[Float])) => {
      val (id, v) = idVec
      val vn = VecUtil.norm(v)
      val q = QuantUtil.quantize(v)
      val qn = QuantUtil.intNorm(q)
      bc.value.map { case (ci, cv, cn) =>
        (ci, VecUtil.dot(v, cv) / (vn * cn))
      }.sortBy(-_._2).take(n).toSeq.map { case (ci, _) => (ci, id, q, qn) }
    }

    val corpusLists = corpusVecs.flatMap(assignQ(corpusAssign))
      .toDF("centroid", "cid", "cq", "cn")
    val queryLists = broadcast(queries.select(col("id"), col("vec"))
      .as[(Long, Array[Float])].flatMap(assignQ(nProbe))
      .toDF("centroid", "qid", "qq", "qn"))

    val scored0 = corpusLists.join(queryLists, "centroid")
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("qq"), col("qn"), col("cq"), col("cn"))
      .as[(Long, Long, Array[Byte], Double, Array[Byte], Double)]
      .map { case (qid, cid, qq, qn, cq, cn) =>
        (qid, (QuantUtil.intDot(qq, cq) / (qn * cn), cid))
      }
    val scored = if (corpusAssign > 1) scored0.distinct() else scored0
    implicit val ord: Ordering[(Double, Long)] =
      Ordering.by((t: (Double, Long)) => (-t._1, t._2))(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
    new graft.typed.Grouped(scored)
      .sortedTake(k)
      .ds.flatMap { case (qid, tops) =>
        tops.map { case (cos, cid) => (qid, cid, cos) }
      }
      .toDF("qid", "cid", "cos")
  }

  /** Embedding near-duplicate pairs: all pairs with cosine >=
    * threshold, blocked by LSH bucket (exact within buckets).
    * For the exact variant over modest corpora use `blockCols = Nil`.
    */
  def cosineNearDuplicates(df: DataFrame, threshold: Double, dim: Int,
      useLsh: Boolean = true, nBits: Int = 6, seed: Long = 42L): DataFrame = {
    val base = df.select(col("id"), col("vec"))
    val withBucket =
      if (useLsh) base.withColumn("bucket",
        hyperplaneSignature(col("vec"), dim, nBits, seed))
      else base.withColumn("bucket", lit(0L))
    val l = withBucket.select(col("id").as("id1"), col("vec").as("v1"), col("bucket"))
    val r = withBucket.select(col("id").as("id2"), col("vec").as("v2"), col("bucket"))
    l.join(r, "bucket")
      .filter(col("id1") < col("id2"))
      .withColumn("cos", cosine(col("v1"), col("v2")))
      .filter(col("cos") >= threshold)
      .select("id1", "id2", "cos")
  }

  /** Exact cosine range search: every (query, corpus) pair with
    * cos ≥ `threshold` — retrieval with a similarity FLOOR rather
    * than [[bruteForceTopK]]'s fixed k (dedup-against-index,
    * recall-oriented retrieval, "everything this similar" audits).
    * Same documented contract as bruteForceTopK: the PROBE side is
    * collected and broadcast (bounded by contract — a query batch,
    * not a corpus); the corpus is scanned once with zero shuffle on
    * it, and only rows ≥ threshold survive the scan, so output, not
    * candidates, is what the shuffle-back carries. For corpus-vs-
    * itself radius search use [[cosineNearDuplicates]] (blocked
    * self-join, no collect); for unbounded query sets go through
    * [[rangeSearchIvf]].
    */
  def rangeSearch(queries: DataFrame, corpus: DataFrame,
      threshold: Double): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qs = queries.select(col("id"), col("vec")).as[(Long, Array[Float])]
      .collect().map { case (id, v) => (id, v, VecUtil.norm(v)) }
    val bq = spark.sparkContext.broadcast(qs)
    corpus.select(col("id"), col("vec")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val probes = bq.value
        it.flatMap { case (cid, cv) =>
          val cn = VecUtil.norm(cv)
          probes.iterator.flatMap { case (qid, qv, qn) =>
            if (qid == cid) None
            else {
              val cos = VecUtil.dot(qv, cv) / (qn * cn)
              if (cos >= threshold) Some((qid, cid, cos)) else None
            }
          }
        }
      }
      .toDF("qid", "cid", "cos")
  }

  /** IVF range search — the unbounded-query-set scale path: corpus
    * vectors live in their argmax-cosine centroid list (optionally
    * `corpusAssign`-way soft-assigned), each query probes its
    * `nProbe` nearest lists, and only probed pairs are scored.
    * Neither side collects: both assignment scans are broadcast-
    * centroid maps and the single shuffle is the list-key join.
    * Approximate exactly like [[ivfTopK]] (a match hiding in an
    * unprobed list is missed — raise nProbe/corpusAssign for
    * recall); every returned pair is ≥ threshold with its EXACT
    * cosine.
    */
  def rangeSearchIvf(queries: DataFrame, corpus: DataFrame,
      threshold: Double, nCentroids: Int = 16, nProbe: Int = 2,
      seed: Long = 42L, kmeansIters: Int = 2,
      corpusAssign: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val corpusVecs = graft.core.PipelineCaches.persistTracked(
      corpus.select(col("id"), col("vec")).as[(Long, Array[Float])])
    val cents = trainCentroids(corpusVecs, nCentroids, seed, kmeansIters)
      .zipWithIndex.map { case (v, i) => (i, v, VecUtil.norm(v)) }
    val bc = spark.sparkContext.broadcast(cents)
    def assign(n: Int) = (idVec: (Long, Array[Float])) => {
      val (id, v) = idVec
      val vn = VecUtil.norm(v)
      bc.value.map { case (ci, cv, cn) =>
        (ci, VecUtil.dot(v, cv) / (vn * cn))
      }.sortBy(-_._2).take(n).toSeq.map { case (ci, _) => (ci, id, v) }
    }
    val corpusLists = corpusVecs.flatMap(assign(corpusAssign))
      .toDF("centroid", "cid", "cvec")
    val queryLists = queries.select(col("id"), col("vec"))
      .as[(Long, Array[Float])].flatMap(assign(nProbe))
      .toDF("centroid", "qid", "qvec")
    val pairs = corpusLists.join(queryLists, "centroid")
      .filter(col("qid") =!= col("cid"))
      .as[(Int, Long, Array[Float], Long, Array[Float])]
      .flatMap { case (_, cid, cv, qid, qv) =>
        val cos = VecUtil.dot(qv, cv) / (VecUtil.norm(qv) * VecUtil.norm(cv))
        if (cos >= threshold) Some((qid, cid, cos)) else None
      }
      .toDF("qid", "cid", "cos")
    // soft assignment / multi-probe can surface a pair via several
    // shared lists
    if (corpusAssign > 1 || nProbe > 1) pairs.distinct() else pairs
  }

  /** Assign every corpus vector to its argmax-cosine centroid from an
    * EXPLICIT (cid, cvec) table — the deterministic building block
    * under prototypicality filtering and incremental IVF maintenance.
    * The centroid side is collected and broadcast (bounded by
    * contract: it is a centroid table, not a corpus); the corpus is
    * scanned once, no shuffle. Ties break toward the lower cid.
    * Output: (id, centroid, proto) with proto = cos(vec, centroid).
    */
  def assignToCentroids(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = centroids.select(col("cid"), col("cvec"))
      .as[(Long, Array[Float])].collect()
      .map { case (ci, cv) => (ci, cv, VecUtil.norm(cv)) }
      .sortBy(_._1)
    require(cents.nonEmpty, "empty centroid table")
    val bc = spark.sparkContext.broadcast(cents)
    corpus.select(col("id"), col("vec")).as[(Long, Array[Float])]
      .map { case (id, v) =>
        val vn = VecUtil.norm(v)
        var bestId = bc.value.head._1
        var bestScore = Double.MinValue
        // exact cosine (no epsilon): the score is oracle-matched
        // bitwise-after-round; zero-norm vectors yield NaN and keep
        // the first centroid
        bc.value.foreach { case (ci, cv, cn) =>
          val s = VecUtil.dot(v, cv) / (vn * cn)
          if (s > bestScore) { bestScore = s; bestId = ci }
        }
        (id, bestId, bestScore)
      }
      .toDF("id", "centroid", "proto")
  }

  /** Train k-means centroids over an (id, vec) corpus and return them
    * as an explicit (cid, cvec) table — the public face of the
    * centroid trainer shared by IVF/SemDeDup, for composition with
    * [[assignToCentroids]]/[[pruneByPrototypicality]] and for
    * persisting an index's centroid set alongside its lists.
    * Deterministic for a fixed seed; memoized on the corpus plan.
    */
  def kmeansCentroids(corpus: DataFrame, nCentroids: Int,
      seed: Long = 42L, kmeansIters: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col("id"), col("vec")).as[(Long, Array[Float])]
    val cents = trainCentroids(vecs, nCentroids, seed, kmeansIters)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
    spark.createDataset(cents.toSeq).toDF("cid", "cvec")
  }

  /** Prototypicality filter (the pruning half of SemDeDup-style
    * curation, Abbas et al. 2023 §3: far-from-centroid points are
    * low-quality or off-distribution): keep vectors whose cosine to
    * their assigned centroid is ≥ `minCos`. Same single-scan shape as
    * [[assignToCentroids]]; pass trained centroids from
    * [[clusterAssignments]]'s k-means or an explicit table.
    */
  def pruneByPrototypicality(corpus: DataFrame, centroids: DataFrame,
      minCos: Double): DataFrame =
    assignToCentroids(corpus, centroids).filter(col("proto") >= minCos)

  /** The deterministic Achlioptas sparse JL matrix (d × k entries in
    * {+1, 0, −1} with P(±1) = 1/6 each): entry (j, i) is decided by
    * the md5 of "seed:j:i" (first 8 hex digits mod 6 — the same
    * hash-uniform device as the corpus split/sampling family, so any
    * engine can replay it).
    */
  def achlioptasMatrix(inDim: Int, outDim: Int,
      seed: String): Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(inDim, outDim) { (j, i) =>
      val hex = md.digest(s"$seed:$j:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      (java.lang.Long.parseLong(hex, 16) % 6L) match {
        case 0L => 1
        case 1L => -1
        case _ => 0
      }
    }
  }

  /** ANN by JL projection: project corpus and queries to `outDim`
    * with the seeded Achlioptas matrix, coarse-rank by PROJECTED
    * cosine with the broadcast-probe / bounded-top-k scan (the
    * [[bruteForceTopK]] shape, but each dot product costs outDim
    * instead of inDim multiplies), keep `k · oversample` candidates
    * per query, then re-rank the shortlist by EXACT cosine on the
    * original vectors. At 1024-dim → 32-dim that is a 32× cheaper
    * corpus scan whose recall loss is bounded by the JL distortion
    * and bought back by the oversampled exact re-rank.
    *
    * Coarse dot/norm accumulate in ascending component order, so an
    * engine replaying the same matrix reproduces the projected
    * ranking exactly. `queries`/`corpus`: (id, vec: Array[Float]).
    */
  def projectedTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      inDim: Int, outDim: Int, seed: String,
      oversample: Int = 4): DataFrame = {
    require(k >= 1 && oversample >= 1, "need k >= 1 and oversample >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    def projected(df: DataFrame): DataFrame =
      randomProject(df, "vec", inDim, outDim, seed)
        .select(col("id"), col("proj"))
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val qs = projected(queries).as[(Long, Array[Double])]
      .collect().map { case (id, v) => (id, v, math.sqrt(dotD(v, v))) }
    val bq = spark.sparkContext.broadcast(qs)
    val coarse = projected(corpus).as[(Long, Array[Double])]
      .mapPartitions { it =>
        val probes = bq.value
        it.flatMap { case (cid, cv) =>
          val cn = math.sqrt(dotD(cv, cv))
          probes.iterator.collect {
            case (qid, qv, qn) if qid != cid =>
              (qid, (dotD(qv, cv) / (qn * cn), cid))
          }
        }
      }
    implicit val ord: Ordering[(Double, Long)] =
      Ordering.by((t: (Double, Long)) => (-t._1, t._2))(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
    val shortlist = new graft.typed.Grouped(coarse)
      .sortedTake(k * oversample)
      .ds.flatMap { case (qid, tops) => tops.map { case (_, cid) => (qid, cid) } }
      .toDF("qid", "cid")
    // exact re-rank: shortlist is |queries|·k·oversample rows — join
    // original vectors back (query side broadcast-small), window over
    // bounded per-query groups
    val rer = shortlist
      .join(broadcast(queries.select(col("id").as("qid"), col("vec").as("qv"))), "qid")
      .join(corpus.select(col("id").as("cid"), col("vec").as("cv")), "cid")
      .select(col("qid"), col("cid"), cosine(col("qv"), col("cv")).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    rer.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select("qid", "cid", "cos")
  }

  /** Johnson–Lindenstrauss dimensionality reduction by sparse random
    * projection (Achlioptas 2003): y = √(3/k) · xᵀR with the seeded
    * ±1/0 matrix above — pairwise distances are preserved within
    * (1 ± ε) for k = O(log n / ε²), at a third of a dense Gaussian
    * projection's multiplies and with no floating-point RNG to
    * disagree about. THE pre-step that makes brute-force / IVF ANN
    * over 100 TB of 1024-dim embeddings tractable: one linear scan,
    * each output component a codegen'd ±-chain over the ~d/3 nonzero
    * entries of its column; the matrix lives in the plan as literals
    * (d·k ints — broadcast-free).
    *
    * Appends `proj: Array[Double]` (length `outDim`). Sum order is
    * ascending j per output component (a fold from 0.0), so an
    * engine replaying the same matrix reproduces the doubles exactly.
    */
  def randomProject(df: DataFrame, vecCol: String, inDim: Int,
      outDim: Int, seed: String): DataFrame = {
    require(inDim >= 1 && outDim >= 1 && outDim <= inDim,
      "need 1 <= outDim <= inDim")
    val r = achlioptasMatrix(inDim, outDim, seed)
    val scale = math.sqrt(3.0 / outDim)
    val comps = (0 until outDim).map { i =>
      val sum = (0 until inDim).foldLeft(lit(0.0)) { (acc, j) =>
        r(j)(i) match {
          case 1 => acc + element_at(col(vecCol), j + 1).cast("double")
          case -1 => acc - element_at(col(vecCol), j + 1).cast("double")
          case _ => acc
        }
      }
      lit(scale) * sum
    }
    df.withColumn("proj", array(comps: _*))
  }

  /** Pairwise cosine similarity between per-stratum embedding
    * centroids — the "which sources are semantically close" matrix
    * behind mixing/dedup decisions at source granularity (two
    * near-identical crawls don't deserve two budget lines; the
    * embedding-space complement to [[TextAnalysis.vocabularyOverlap]]).
    * Returns (stratum_a, stratum_b, cos) for unordered pairs.
    *
    * Scale shape: one posexplode + (stratum, dim) hash aggregate
    * collapses the corpus to |strata|·d rows; everything after
    * (norms, the pair join on dim) runs on that dashboard-sized
    * table. Fully relational — no array materialization.
    */
  def strataCentroidSimilarity(df: DataFrame, strataCol: String,
      vecCol: String): DataFrame = {
    val means = graft.core.PipelineCaches.persistTracked(
      df.select(col(strataCol).cast("string").as("s"),
          posexplode(col(vecCol)).as(Seq("i", "x")))
        .groupBy("s", "i").agg(avg(col("x").cast("double")).as("m")))
    val norms = means.groupBy("s").agg(sqrt(sum(col("m") * col("m")))
      .as("nrm"))
    val dots = means.alias("a").join(means.alias("b"), Seq("i"))
      .filter(col("a.s") < col("b.s"))
      .groupBy(col("a.s").as("sa"), col("b.s").as("sb"))
      .agg(sum(col("a.m") * col("b.m")).as("dot"))
    dots
      .join(norms.select(col("s").as("sa"), col("nrm").as("na")), "sa")
      .join(norms.select(col("s").as("sb"), col("nrm").as("nb")), "sb")
      .select(col("sa").as("stratum_a"), col("sb").as("stratum_b"),
        when(col("na") > 0 && col("nb") > 0,
          col("dot") / (col("na") * col("nb"))).as("cos"))
  }

  /** Margin-based parallel-pair mining between two embedding corpora
    * — the LASER bitext-mining criterion (Artetxe & Schwenk 2019,
    * "ratio" margin). Candidates are each side's k nearest neighbors
    * in the other; cosine is rescaled by the mean similarity of both
    * endpoints' neighborhoods, which demotes hub vectors that sit
    * close to everything; a pair is MINED when the two sides pick
    * each other as best margin (mutual argmax) and the margin clears
    * `minMargin`.
    *
    * `a`, `b`: (id, vec: Array[Float]) with globally distinct ids.
    * Returns (a_id, b_id, cos, margin), one row per mined pair.
    *
    * Scale shape: the candidate set is ≤ 2k rows per vector (never
    * all-pairs); neighborhood means are one hash aggregate over it;
    * mutual argmax is two windows over k-bounded partitions.
    * Retrieval is pluggable — the default brute force is the exact
    * baseline for probe-sized sides; pass `ivfTopK(_, _, _)` (or the
    * quantized variant) for the large-corpus path: the downstream
    * margin algebra is identical.
    */
  def marginMining(a: DataFrame, b: DataFrame, k: Int,
      minMargin: Double = 1.0,
      knn: (DataFrame, DataFrame, Int) => DataFrame =
        bruteForceTopK(_, _, _)): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val fwd = knn(a, b, k) // (qid = a-side id, cid = b-side id, cos)
    val bwd = knn(b, a, k)
    val nnA = fwd.groupBy(col("qid").as("a_id")).agg(avg("cos").as("nn_a"))
    val nnB = bwd.groupBy(col("qid").as("b_id")).agg(avg("cos").as("nn_b"))
    // union of both directions' candidates; cosine is symmetric (the
    // kernel's multiply/add order is operand-commutative), so the
    // max() is pure dedup
    val cand = fwd.select(col("qid").as("a_id"), col("cid").as("b_id"),
        col("cos"))
      .unionByName(bwd.select(col("cid").as("a_id"), col("qid").as("b_id"),
        col("cos")))
      .groupBy("a_id", "b_id").agg(max("cos").as("cos"))
    val scored = cand.join(nnA, "a_id").join(nnB, "b_id")
      .withColumn("margin", col("cos") / ((col("nn_a") + col("nn_b")) / 2.0))
    val wA = Window.partitionBy("a_id").orderBy(col("margin").desc,
      col("b_id"))
    val wB = Window.partitionBy("b_id").orderBy(col("margin").desc,
      col("a_id"))
    scored
      .withColumn("__ra", row_number().over(wA))
      .withColumn("__rb", row_number().over(wB))
      .filter(col("__ra") === 1 && col("__rb") === 1 &&
        col("margin") >= minMargin)
      .select(col("a_id"), col("b_id"), col("cos"), col("margin"))
  }

  /** Matryoshka-truncation retrieval eval: recall@k of brute-force
    * cosine search run on PREFIX-truncated embeddings (the MRL
    * deployment question — how many leading dimensions does the
    * adaptive-retrieval fast pass need?) against the full-dimension
    * top-k as ground truth. Returns (dim, qid, hits, recall) per
    * probe per truncation width; recall = |truncated ∩ full| / k.
    *
    * Scale shape: one [[bruteForceTopK]] pass per width + the full
    * pass (each: broadcast probes, one corpus scan, bounded top-k
    * aggregation — the documented probe-side-bounded contract), then
    * an (qid, cid) hash semi-join per width. Truncation is a slice
    * projection; no vector is rewritten or re-stored.
    */
  def matryoshkaRecall(corpus: DataFrame, probes: DataFrame,
      dims: Seq[Int], k: Int): DataFrame = {
    require(dims.nonEmpty && k >= 1)
    val full = bruteForceTopK(probes, corpus, k)
      .select(col("qid"), col("cid"), lit(1).as("hit"))
    val perDim = dims.map { d =>
      require(d >= 1)
      val tc = corpus.select(col("id"), slice(col("vec"), 1, d).as("vec"))
      val tp = probes.select(col("id"), slice(col("vec"), 1, d).as("vec"))
      bruteForceTopK(tp, tc, k)
        .select(lit(d).as("dim"), col("qid"), col("cid"))
    }.reduce(_ unionAll _)
    perDim.join(full, Seq("qid", "cid"), "left")
      .groupBy("dim", "qid")
      .agg(sum(coalesce(col("hit"), lit(0))).as("hits"))
      .select(col("dim"), col("qid"), col("hits"),
        (col("hits").cast("double") / k).as("recall"))
  }

  /** Sign-bit binary quantization kernels: dimension i of word j is
    * bit i (set iff x ≥ 0), 32 dimensions per Long word so every
    * packed value stays below 2³² and replays in plain integer SQL
    * (a 64-bit pack would need unsigned semantics). 32× smaller than
    * float32; Hamming distance = Σ bitCount(xor) is the standard
    * first-pass filter for cosine search because E[hamming] is
    * monotone in the angle (Charikar 2002 SimHash bound:
    * P[bit differs] = θ/π per random hyperplane — sign-of-coordinate
    * is the axis-aligned instance).
    */
  object BinUtil {
    def pack(v: Array[Float]): Array[Long] = {
      val words = new Array[Long]((v.length + 31) / 32)
      var i = 0
      while (i < v.length) {
        if (v(i) >= 0f) words(i / 32) |= (1L << (i % 32))
        i += 1
      }
      words
    }
    def hamming(a: Array[Long], b: Array[Long]): Int = {
      var h = 0; var i = 0
      while (i < a.length) {
        h += java.lang.Long.bitCount(a(i) ^ b(i)); i += 1
      }
      h
    }
  }

  /** Binary (sign-bit) ANN with exact rerank: Hamming top-(k·mult)
    * candidates over the packed corpus, then exact float cosine on
    * the survivors, final top-k. The memory story is the point at
    * 100 TB: the Hamming pass touches 32×-compressed vectors (the
    * packed table can live where the float table cannot), and only
    * k·mult float vectors per probe are ever re-read.
    *
    * Returns (qid, cid, hamming, cos). Scale shape: probes collected
    * + broadcast (bounded by the ANN probe contract), corpus scanned
    * once with the packing fused into the scan kernel, candidate
    * selection a bounded per-query top-M aggregation (hamming asc,
    * cid asc — integer, so selection is bit-identical across
    * engines), rerank joins only the candidate ids back to the float
    * table.
    */
  def binaryTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      rerankMult: Int = 4): DataFrame = {
    require(k >= 1 && rerankMult >= 1)
    val spark = corpus.sparkSession
    import spark.implicits._
    val qs = queries.select(col("id"), col("vec")).as[(Long, Array[Float])]
      .collect().map { case (id, v) =>
        (id, v, VecUtil.norm(v), BinUtil.pack(v)) }
    val bq = spark.sparkContext.broadcast(qs)
    val m = k * rerankMult

    val ham = corpus.select(col("id"), col("vec")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val queries = bq.value
        it.flatMap { case (cid, cv) =>
          val cw = BinUtil.pack(cv)
          queries.iterator.collect {
            case (qid, _, _, qw) if qid != cid =>
              (qid, (BinUtil.hamming(qw, cw), cid))
          }
        }
      }
    implicit val ord: Ordering[(Int, Long)] =
      Ordering.Tuple2(Ordering.Int, Ordering.Long)
    val cand = new graft.typed.Grouped(ham).sortedTake(m)
      .ds.flatMap { case (qid, tops) =>
        tops.map { case (h, cid) => (qid, cid, h) }
      }
      .toDF("qid", "cid", "hamming")
    // exact rerank: candidate ids join back to the float table, the
    // broadcast probe array supplies the query side
    val rer = cand.join(corpus.select(col("id").as("cid"),
        col("vec").as("cvec")), "cid")
      .as[(Long, Long, Int, Array[Float])]
      .mapPartitions { it =>
        val byId = bq.value.map(q => q._1 -> q).toMap
        it.map { case (cid, qid, h, cv) =>
          val q = byId(qid)
          val cos = VecUtil.dot(q._2, cv) / (q._3 * VecUtil.norm(cv))
          (qid, cid, h, cos)
        }
      }
      .toDF("qid", "cid", "hamming", "cos")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    rer.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
      .select(col("qid"), col("cid"), col("hamming"), col("cos"))
  }

  /** Orthogonal Procrustes alignment between two paired embedding
    * spaces (Schönemann 1966): the orthogonal W minimizing ‖XW − Y‖
    * is W = UVᵀ from the SVD of M = XᵀY — the standard cross-lingual
    * / cross-model-version embedding aligner (Artetxe 2016, Smith
    * 2017 use exactly this). `pairs` carries both vectors per row
    * (row convention: x·W ≈ y). Returns the d×d matrix, row-major.
    *
    * The SVD runs driver-side on the d×d cross-covariance (the PCA
    * eigensolver on MᵀM gives V and σ²; U = MVΣ⁻¹), so the only
    * distributed work is ONE map-side-combined d²-buffer aggregate —
    * the [[Pca]] moments shape. Full-rank M is a documented contract
    * (rank-deficient pairs → IllegalStateException, not a silently
    * non-orthogonal W).
    */
  def procrustesAlign(pairs: DataFrame, aCol: String, bCol: String,
      dim: Int): Array[Array[Double]] = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val spark = pairs.sparkSession
    import spark.implicits._
    val m = pairs.select(col(aCol), col(bCol))
      .as[(Array[Float], Array[Float])]
      .mapPartitions { it =>
        val acc = new Array[Double](dim * dim)
        var any = false
        it.foreach { case (x, y) =>
          require(x.length == dim && y.length == dim, "dim mismatch")
          any = true
          var i = 0
          while (i < dim) {
            val xi = x(i).toDouble
            var j = 0
            while (j < dim) { acc(i * dim + j) += xi * y(j); j += 1 }
            i += 1
          }
        }
        if (any) Iterator.single(acc) else Iterator.empty
      }
      .reduce { (a, b) =>
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      }
    // MᵀM = V Σ² Vᵀ; U columns = M v_i / σ_i
    val mtm = Array.tabulate(dim, dim) { (i, j) =>
      var s = 0.0
      var r = 0
      while (r < dim) { s += m(r * dim + i) * m(r * dim + j); r += 1 }
      s
    }
    val (evals, vecs) = Pca.jacobiEigen(mtm)
    val sigma = evals.map(v => math.sqrt(math.max(v, 0.0)))
    val sMax = sigma.max
    require(sMax > 0, "procrustes: M is zero — no signal to align")
    if (sigma.exists(_ < 1e-9 * sMax))
      throw new IllegalStateException(
        "procrustes: rank-deficient cross-covariance (documented " +
          "full-rank contract) — reduce dim or add pairs")
    // eigenvector k lives in COLUMN k of vecs; u_k = M v_k / σ_k
    val u = Array.tabulate(dim, dim) { (r, k) =>
      var s = 0.0
      var c = 0
      while (c < dim) { s += m(r * dim + c) * vecs(c)(k); c += 1 }
      s / sigma(k)
    }
    // W = U Vᵀ: W(i)(j) = Σ_k U(i,k) · V(j,k)
    Array.tabulate(dim, dim) { (i, j) =>
      var s = 0.0
      var k = 0
      while (k < dim) { s += u(i)(k) * vecs(j)(k); k += 1 }
      s
    }
  }

  /** Apply a [[procrustesAlign]] matrix: one typed-map corpus scan
    * with the d×d matrix in the closure (plan-literal, no join, no
    * shuffle). Row convention x·W.
    */
  def applyAlign(df: DataFrame, idCol: String, vecCol: String,
      w: Array[Array[Double]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dim = w.length
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .map { case (id, x) =>
        val out = new Array[Float](dim)
        var j = 0
        while (j < dim) {
          var s = 0.0
          var i = 0
          while (i < dim) { s += x(i) * w(i)(j); i += 1 }
          out(j) = s.toFloat
          j += 1
        }
        (id, out)
      }
      .toDF("id", "vec")
  }

  /** Hubness diagnostic of an embedding space (Radovanović et al.
    * 2010): k-occurrence N_k(x) = how often x appears in other
    * points' k-NN lists. High-dimensional spaces grow HUBS (points
    * in everyone's neighbor list) that silently dominate ANN
    * retrieval, margin mining, and k-NN classification — the
    * skewness of N_k is the one-number alarm (≳ 1 = hubby, fix with
    * centering or margin rescaling). Returns one row
    * (k, n, mean_nk, max_nk, skewness) where skewness is the
    * population third standardized moment of N_k, zero-occurrence
    * points included (they are the antihubs that make the tail).
    *
    * Scale shape: retrieval is PLUGGABLE exactly like
    * [[marginMining]] — the default brute force is the exact answer
    * for bounded corpora but is inherently quadratic (measured 429 s
    * at the 50k-vector sf1 probe vs 3.3 s at 5k: the full n² kernel,
    * as its shape predicts). Above a few thousand vectors either
    * pass `ivfTopK(_, _, _)` or measure hubness on a BOUNDED
    * deterministic sample (hubness is a distributional diagnostic —
    * a sample answers the question); one cid hash aggregate + one
    * moments aggregate after.
    */
  def hubness(corpus: DataFrame, k: Int,
      knnFn: (DataFrame, DataFrame, Int) => DataFrame =
        bruteForceTopK(_, _, _)): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val knn = knnFn(corpus, corpus, k)
    val occ = knn.groupBy(col("cid").as("id"))
      .agg(count(lit(1)).as("nk"))
    // zero-occurrence points must enter the moments
    val all = corpus.select(col("id")).join(occ, Seq("id"), "left")
      .select(coalesce(col("nk"), lit(0L)).cast("double").as("nk"))
    all.agg(count(lit(1)).as("n"), avg("nk").as("m"),
        max("nk").as("max_nk"),
        stddev_pop("nk").as("sd"),
        avg(col("nk") * col("nk") * col("nk")).as("m3raw"),
        avg(col("nk") * col("nk")).as("m2raw"))
      .select(lit(k).as("k"), col("n"), col("m").as("mean_nk"),
        col("max_nk"),
        // E[(x−μ)³]/σ³ expanded in raw moments so both engines
        // evaluate one aggregate pass
        when(col("sd") > 0,
          (col("m3raw") - lit(3) * col("m") * col("m2raw") +
            lit(2) * col("m") * col("m") * col("m")) /
            (col("sd") * col("sd") * col("sd"))).as("skewness"))
  }

  /** Squared maximum mean discrepancy (biased V-statistic, RBF
    * kernel) between two embedding samples — the kernel two-sample
    * test behind "did my embedding distribution move" (Gretton et
    * al. 2012): MMD² = E[k(x,x′)] + E[k(y,y′)] − 2E[k(x,y)] with
    * k(a,b) = exp(−‖a−b‖²/(2σ²)). BOUNDED-SAMPLE contract: both
    * sides are all-pairs — run it on a few-thousand-row sample per
    * side, never the corpus (the corpus-scale read is
    * [[strataCentroidSimilarity]] / [[graft.ml.Profile.embeddingDrift]];
    * MMD is the sensitive confirmatory test on samples).
    * Returns (n_x, n_y, kxx, kyy, kxy, mmd2).
    */
  def mmdRbf(x: DataFrame, y: DataFrame, vecCol: String,
      sigma: Double): DataFrame = {
    require(sigma > 0, s"sigma must be positive, got $sigma")
    def pairsMean(a: DataFrame, b: DataFrame, tag: String) = {
      val l = a.select(col(vecCol).as("va"))
      val r = b.select(col(vecCol).as("vb"))
      import graft.functions.VectorFunctions.dot_f
      // ‖a−b‖² = a·a + b·b − 2 a·b through the codegen'd dot kernel
      val sq = dot_f(col("va"), col("va")) +
        dot_f(col("vb"), col("vb")) -
        lit(2.0) * dot_f(col("va"), col("vb"))
      l.crossJoin(r)
        .select(exp(-sq / (2 * sigma * sigma)).as("kv"))
        .agg(avg("kv").as(tag))
    }
    val nx = x.agg(count(lit(1)).as("n_x"))
    val ny = y.agg(count(lit(1)).as("n_y"))
    nx.crossJoin(broadcast(ny))
      .crossJoin(broadcast(pairsMean(x, x, "kxx")))
      .crossJoin(broadcast(pairsMean(y, y, "kyy")))
      .crossJoin(broadcast(pairsMean(x, y, "kxy")))
      .select(col("n_x"), col("n_y"), col("kxx"), col("kyy"),
        col("kxy"),
        (col("kxx") + col("kyy") - lit(2) * col("kxy")).as("mmd2"))
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell &
    * Goldstein 1998): greedily pick argmax λ·rel(d) −
    * (1−λ)·max_{s∈S} cos(d, s) — the standard de-redundancy pass on
    * a retrieval shortlist (RAG context assembly, search result
    * diversification) where the plain top-k returns five paraphrases
    * of one document. `candidates`: (query, id, rel, vec) with
    * BOUNDED per-query candidate lists (the ANN shortlist contract —
    * MMR is quadratic in the shortlist, which is the point of
    * running it on a shortlist). First pick is the max-rel item;
    * ties break by id. All similarity terms are quantized to 1e-6 by
    * floor(x·1e6 + 0.5)/1e6 so the greedy argmax replays bit-exactly
    * across engines (the ENVELOPES round-half-up convention).
    * Returns (query, rank, id, rel, mmr) — mmr = the score the item
    * was selected at (= rel·λ for the first pick).
    *
    * Scale shape: one shuffle keyed by query; each group is a
    * bounded in-memory greedy loop (k·|cand| cosine evaluations).
    */
  def mmrSelect(candidates: DataFrame, queryCol: String, idCol: String,
      relCol: String, vecCol: String, k: Int,
      lambda: Double = 0.7): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda >= 0 && lambda <= 1, s"lambda in [0,1], got $lambda")
    val spark = candidates.sparkSession
    import spark.implicits._
    def q6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    candidates
      .select(col(queryCol).cast("long").as("q"),
        col(idCol).cast("long").as("id"),
        col(relCol).cast("double").as("rel"), col(vecCol).as("vec"))
      .as[(Long, Long, Double, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (q, it) =>
        val cand = it.toArray.sortBy(_._2) // id order for determinism
        val n = cand.length
        val norms = cand.map(c => VecUtil.norm(c._4))
        val picked = new Array[Boolean](n)
        // running max-sim of each candidate to the selected set
        val maxSim = Array.fill(n)(Double.NegativeInfinity)
        val out = Array.newBuilder[(Long, Int, Long, Double, Double)]
        var rank = 1
        while (rank <= math.min(k, n)) {
          var best = -1
          var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < n) {
            if (!picked(i)) {
              val score =
                if (rank == 1) lambda * cand(i)._3
                else lambda * cand(i)._3 - (1 - lambda) * maxSim(i)
              // strict > keeps the lowest id on ties (id-sorted scan)
              if (score > bestScore) { bestScore = score; best = i }
            }
            i += 1
          }
          if (best < 0) {
            // every remaining score is NaN (e.g. zero-norm vectors
            // upstream) — truncate the selection rather than throw
            // ArrayIndexOutOfBounds inside the executor task
            rank = Int.MaxValue
          } else {
          picked(best) = true
          out += ((q, rank, cand(best)._2, cand(best)._3, bestScore))
          // fold the new pick into every survivor's max-sim
          var j = 0
          while (j < n) {
            if (!picked(j)) {
              val s = q6(VecUtil.dot(cand(j)._4, cand(best)._4) /
                (norms(j) * norms(best)))
              if (s > maxSim(j)) maxSim(j) = s
            }
            j += 1
          }
          rank += 1
          }
        }
        out.result().iterator
      }
      .toDF("query", "rank", "id", "rel", "mmr")
  }

  /** Simplified (centroid-based) silhouette per cluster — the
    * clustering-quality audit run before any centroid-blocked
    * operator (semantic dedup, IVF) trusts its partition: a(i) =
    * distance to the OWN centroid, b(i) = distance to the nearest
    * OTHER centroid, s(i) = (b−a)/max(a,b). The full silhouette is
    * all-pairs (O(n²) — dead at scale); the simplified form is the
    * standard surrogate (Hruschka et al. 2004) and needs one corpus
    * scan against k broadcast centroids.
    *
    * `df`: rows with a cluster column and a vector column; centroids
    * are computed from the assignment itself (per-cluster dimension
    * means). Returns per-cluster (cluster, n, mean_a, mean_b,
    * mean_sil) — mean_sil near 1 = tight/separated, near 0 =
    * touching, negative = misassigned mass.
    *
    * Scale shape: one (cluster, dim) hash aggregate builds the
    * centroid table (k·d rows, driver-bounded by the centroid
    * contract), one corpus scan with the k×d matrix broadcast, one
    * cluster hash aggregate. Distances accumulate dimension-major in
    * the kernel (fixed order, engine-replayable).
    */
  def simplifiedSilhouette(df: DataFrame, clusterCol: String,
      vecCol: String, maxClusters: Int = 10000): DataFrame = {
    require(maxClusters >= 2, "maxClusters must be >= 2")
    val spark = df.sparkSession
    import spark.implicits._
    // limit(max+1) bounds the driver collect: a mis-clustered input
    // (e.g. a unique id passed as the cluster column) fails loudly
    // instead of collecting one centroid per row
    val cents0 = df
      .select(col(clusterCol).cast("long").as("c"),
        posexplode(col(vecCol)).as(Seq("i", "x")))
      .groupBy("c", "i").agg(avg(col("x").cast("double")).as("m"))
      .groupBy("c").agg(collect_list(struct(col("i"), col("m"))).as("ms"))
      .as[(Long, Seq[(Int, Double)])]
      .limit(maxClusters + 1)
      .collect()
    require(cents0.length <= maxClusters,
      s"simplifiedSilhouette: more than $maxClusters clusters - is " +
        s"'$clusterCol' really a cluster assignment? Raise " +
        "maxClusters only if the k x d centroid table fits the driver")
    val cents = cents0
      .map { case (c, ms) =>
        (c, ms.sortBy(_._1).map(_._2).toArray)
      }
      .sortBy(_._1)
    require(cents.length >= 2, "need at least 2 clusters")
    val bc = spark.sparkContext.broadcast(cents)
    df.select(col(clusterCol).cast("long").as("c"),
        col(vecCol).cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
      .map { case (c, v) =>
        val cs = bc.value
        var a = 0.0
        var b = Double.MaxValue
        var ci = 0
        while (ci < cs.length) {
          val mu = cs(ci)._2
          var ss = 0.0
          var i = 0
          while (i < v.length) {
            val d = v(i) - mu(i); ss += d * d; i += 1
          }
          val dist = math.sqrt(ss)
          if (cs(ci)._1 == c) a = dist
          else if (dist < b) b = dist
          ci += 1
        }
        val s = if (math.max(a, b) == 0.0) 0.0
          else (b - a) / math.max(a, b)
        (c, a, b, s)
      }
      .toDF("cluster", "a", "b", "sil")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), avg("a").as("mean_a"),
        avg("b").as("mean_b"), avg("sil").as("mean_sil"))
  }
  /** TwoNN intrinsic-dimension estimate of an embedding space (Facco
    * et al. 2017) over a BOUNDED sample: for each point, μ = ln(r₂/r₁)
    * of its two nearest sample neighbors, and the MLE is
    * d = n / Σμ — the one-number answer to "how many effective
    * dimensions does this space actually use", read before trusting
    * PCA truncation widths or Matryoshka prefixes. Points whose
    * nearest neighbor is at distance 0 (exact duplicates) are dropped
    * from the estimate and counted — duplicates make μ undefined and
    * are a data fact worth surfacing, not averaging over. Returns one
    * row (n_used, n_dropped, mu_mean, intrinsic_dim).
    *
    * Scale shape: the [[mmdRbf]] BOUNDED-SAMPLE contract — the
    * two-NN scan is all-pairs on the sample (never the corpus); pass
    * a few thousand deterministic rows. Distances compare as exact
    * integer squared-euclidean when callers quantize vectors (the
    * bit-exact-selection discipline).
    */
  def intrinsicDimension(sample: DataFrame,
      maxSample: Int = 50000): DataFrame = {
    require(maxSample >= 3, "maxSample must be >= 3")
    val spark = sample.sparkSession
    import spark.implicits._
    val pts = sample.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]
    // limit(max+1): the two-NN pass is all-pairs ON THE SAMPLE; an
    // unbounded "sample" is the 429-second sf1 cliff this operator's
    // contract exists to prevent - fail loudly at the collect
    val all0 = pts.limit(maxSample + 1).collect()
    require(all0.length <= maxSample,
      s"intrinsicDimension: sample exceeds $maxSample points - the " +
        "TwoNN scan is quadratic in the sample; pre-sample the input " +
        "(a few thousand rows) or raise maxSample deliberately")
    val all = all0.sortBy(_._1)
    require(all.length >= 3, s"need >= 3 sample points, got ${all.length}")
    val bAll = spark.sparkContext.broadcast(all)
    val mus = pts.mapPartitions { it =>
      val arr = bAll.value
      it.map { case (id, v) =>
        var d1 = Double.MaxValue
        var d2 = Double.MaxValue
        var i = 0
        while (i < arr.length) {
          val (oid, ov) = arr(i)
          if (oid != id) {
            var s2 = 0.0
            var j = 0
            while (j < v.length) {
              val d = v(j).toDouble - ov(j)
              s2 += d * d
              j += 1
            }
            if (s2 < d1) { d2 = d1; d1 = s2 }
            else if (s2 < d2) { d2 = s2 }
          }
          i += 1
        }
        // mu = ln(r2/r1) = 0.5 ln(d2^2/d1^2) on squared distances
        (id, if (d1 > 0) 0.5 * math.log(d2 / d1) else Double.NaN)
      }
    }.toDF("id", "mu")
    mus.agg(
        sum(when(!isnan(col("mu")), 1L).otherwise(0L)).as("n_used"),
        sum(when(isnan(col("mu")), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(!isnan(col("mu")), col("mu"))).as("mu_sum"))
      .select(col("n_used"), col("n_dropped"),
        (col("mu_sum") / col("n_used")).as("mu_mean"),
        when(col("mu_sum") > 0,
          col("n_used").cast("double") / col("mu_sum"))
          .as("intrinsic_dim"))
  }
}
