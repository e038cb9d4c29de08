package graft.ml

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.ml.Similarity.VecUtil

/** Product quantization (PQ) for embedding columns — the compression
  * rung below int8 on the ANN ladder (Jégou, Douze, Schmid 2011,
  * "Product Quantization for Nearest Neighbor Search").
  *
  * The d-dim space is split into `m` subspaces of d/m dims; each
  * subspace gets its own k-codeword codebook (k ≤ 256 so a code is one
  * byte). A vector compresses to `m` bytes — for d=64 float32 that is
  * 32× — and asymmetric-distance computation (ADC) scores a query
  * against a code with `m` table lookups, no float math in the scan
  * loop. At 100 TB of embeddings this is the shape that keeps the
  * corpus scan I/O-bound on codes instead of raw vectors; the optional
  * exact re-rank then touches only the shortlisted original vectors
  * via a narrow id join (shortlist·|queries| rows, never the corpus).
  *
  * The reference engine has no PQ — this is part of the superset
  * similarity-search family next to [[Similarity.ivfTopK]] (same probe
  * contract: the query side is collected/broadcast, small by
  * contract; the corpus is scanned once).
  *
  * All training is deterministic for a fixed seed: codeword init is a
  * seeded sample, Lloyd refinement aggregates exact per-partition
  * partials, ties in assignment break toward the lower code index.
  */
object Pq {

  /** `books(sub)(code)` is the codeword vector for `code` in subspace
    * `sub`; every codeword has length `subDim`.
    */
  final case class Codebooks(m: Int, subDim: Int, k: Int,
      books: Array[Array[Array[Float]]]) {
    require(books.length == m && books.forall(_.length == k))

    /** ||codeword||² per (sub, code): reconstruction norm is additive
      * across subspaces, so approx ||x̂||² = Σ_sub normSq(sub)(code).
      */
    lazy val normSq: Array[Array[Double]] =
      books.map(_.map(c => VecUtil.dot(c, c)))

    /** Nearest codeword (L2) per subspace; ties to the lower index. */
    def encodeOne(v: Array[Float]): Array[Byte] = {
      val out = new Array[Byte](m)
      var sub = 0
      while (sub < m) {
        val base = sub * subDim
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          val cw = books(sub)(c)
          var d2 = 0.0
          var i = 0
          while (i < subDim) {
            val diff = v(base + i) - cw(i)
            d2 += diff * diff
            i += 1
          }
          if (d2 < bestD) { bestD = d2; best = c }
          c += 1
        }
        out(sub) = best.toByte
        sub += 1
      }
      out
    }

    /** Versioned little-endian layout: magic, m, subDim, k, then the
      * m·k·subDim codeword floats — store next to the index lists
      * (e.g. one binary cell in the index manifest).
      */
    def toBytes: Array[Byte] = {
      val bb = java.nio.ByteBuffer
        .allocate(16 + m * k * subDim * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(0x50514231) // "PQB1"
      bb.putInt(m).putInt(subDim).putInt(k)
      books.foreach(_.foreach(_.foreach(bb.putFloat)))
      bb.array()
    }
  }

  def codebooksFromBytes(bytes: Array[Byte]): Codebooks = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bb.getInt() == 0x50514231, "not a PQ codebook blob")
    val m = bb.getInt()
    val subDim = bb.getInt()
    val k = bb.getInt()
    val books = Array.fill(m, k) {
      val cw = new Array[Float](subDim)
      var i = 0
      while (i < subDim) { cw(i) = bb.getFloat(); i += 1 }
      cw
    }
    Codebooks(m, subDim, k, books)
  }

  /** Memoized on (corpus plan semantics, m, k, seed, iters) like the
    * IVF centroid cache; cleared with [[graft.core.PipelineCaches]].
    */
  private val codebookCache =
    new ConcurrentHashMap[(String, Int, Int, Long, Int), Codebooks]()
  graft.core.PipelineCaches.onClear(() => codebookCache.clear())

  def train(corpus: DataFrame, m: Int, k: Int, seed: Long = 42L,
      iters: Int = 2): Codebooks = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col("id"), col("vec")).as[(Long, Array[Float])]
    codebookCache.computeIfAbsent(
      (vecs.semanticHash().toString, m, k, seed, iters),
      _ => trainUncached(vecs, m, k, seed, iters))
  }

  /** One distributed pass per Lloyd iteration covers ALL m subspaces:
    * each partition accumulates (sum, count) per (sub, code) — a
    * bounded m·k·subDim-double accumulator — and the tiny partial set
    * merges on the driver. Empty cells keep their previous codeword.
    */
  private def trainUncached(vecs: Dataset[(Long, Array[Float])],
      m: Int, k: Int, seed: Long, iters: Int): Codebooks = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // a 0.5 sample of a small corpus can come up short of k, which
    // would recycle seeds into duplicate codewords and waste codebook
    // capacity — fall back to a plain take(k) so k DISTINCT seed
    // vectors are used whenever the corpus has them
    val sampled = vecs.sample(withReplacement = false, 0.5, seed)
      .limit(k).collect().map(_._2)
    val seedVecs =
      if (sampled.length >= k) sampled else vecs.limit(k).collect().map(_._2)
    require(seedVecs.nonEmpty, "empty corpus")
    val dim = seedVecs.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    // init code c of subspace s from sample vector c's s-th slice
    // (recycling the sample when the corpus has fewer than k rows)
    var books = Array.tabulate(m, k) { (sub, c) =>
      val src = seedVecs(c % seedVecs.length)
      java.util.Arrays.copyOfRange(src, sub * subDim, (sub + 1) * subDim)
    }
    var cb = Codebooks(m, subDim, k, books)
    (1 to iters).foreach { _ =>
      val bc = spark.sparkContext.broadcast(cb)
      val partials = vecs.mapPartitions { it =>
        val local = bc.value
        val acc = Array.fill(m, k)(new Array[Double](local.subDim))
        val counts = Array.fill(m, k)(0L)
        it.foreach { case (_, v) =>
          val codes = local.encodeOne(v)
          var sub = 0
          while (sub < m) {
            val code = codes(sub) & 0xff
            val a = acc(sub)(code)
            val base = sub * local.subDim
            var i = 0
            while (i < local.subDim) { a(i) += v(base + i); i += 1 }
            counts(sub)(code) += 1
            sub += 1
          }
        }
        for {
          sub <- (0 until m).iterator
          code <- (0 until k).iterator
          if counts(sub)(code) > 0
        } yield (sub, code, acc(sub)(code), counts(sub)(code))
      }.collect()
      books = Array.tabulate(m, k) { (sub, c) =>
        val mine = partials.filter(p => p._1 == sub && p._2 == c)
        val n = mine.map(_._4).sum
        if (n == 0) books(sub)(c)
        else {
          val sum = new Array[Double](subDim)
          mine.foreach { case (_, _, s, _) =>
            var i = 0
            while (i < subDim) { sum(i) += s(i); i += 1 }
          }
          sum.map(x => (x / n).toFloat)
        }
      }
      cb = Codebooks(m, subDim, k, books)
    }
    cb
  }

  /** Compress an (id, vec) corpus to (id, codes: binary) — m bytes per
    * row. The sink side of a PQ index build; pair with the codebooks
    * (tiny, store wherever the job config lives) to decode/score.
    */
  def encode(corpus: DataFrame, cb: Codebooks): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cb)
    corpus.select(col("id"), col("vec")).as[(Long, Array[Float])]
      .map { case (id, v) => (id, bc.value.encodeOne(v)) }
      .toDF("id", "codes")
  }

  /** ADC top-k: queries are collected/broadcast (small by contract)
    * with a precomputed m×k lookup table per query —
    * `table(sub)(code) = dot(q_sub, codeword)` — so scoring a corpus
    * code is m array lookups. Approximate cosine ranks
    * dot(q, x̂) / (‖q‖·‖x̂‖) with ‖x̂‖ additive from the codebook norm
    * table. With `rerank > 0` the ADC pass keeps a per-query shortlist
    * of that size, original vectors are fetched for shortlist ids only
    * (narrow id join), and exact cosine re-ranks — the standard
    * production shape: compressed scan, exact tail.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      m: Int = 8, kCodes: Int = 16, seed: Long = 42L, iters: Int = 2,
      rerank: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val corpusVecs = graft.core.PipelineCaches.persistTracked(
      corpus.select(col("id"), col("vec")).as[(Long, Array[Float])])
    val cb = train(corpusVecs.toDF("id", "vec"), m, kCodes, seed, iters)
    val qs = queries.select(col("id"), col("vec")).as[(Long, Array[Float])]
      .collect()
    val bcCb = spark.sparkContext.broadcast(cb)
    val bcQ = spark.sparkContext.broadcast(qs)

    val shortlistSize = math.max(k, rerank)
    val scored = corpusVecs.mapPartitions { it =>
      val local = bcCb.value
      // per-query ADC tables + the shared reconstruction-norm table
      val tables = bcQ.value.map { case (qid, qv) =>
        val t = Array.fill(local.m, local.k)(0.0)
        var sub = 0
        while (sub < local.m) {
          val base = sub * local.subDim
          var c = 0
          while (c < local.k) {
            val cw = local.books(sub)(c)
            var d = 0.0
            var i = 0
            while (i < local.subDim) { d += qv(base + i) * cw(i); i += 1 }
            t(sub)(c) = d
            c += 1
          }
          sub += 1
        }
        (qid, t, VecUtil.norm(qv))
      }
      val nsq = local.normSq
      it.flatMap { case (cid, cv) =>
        val codes = local.encodeOne(cv)
        tables.iterator.collect {
          case (qid, t, qn) if qid != cid =>
            var dot = 0.0
            var rn2 = 0.0
            var sub = 0
            while (sub < local.m) {
              val code = codes(sub) & 0xff
              dot += t(sub)(code)
              rn2 += nsq(sub)(code)
              sub += 1
            }
            val denom = qn * math.sqrt(rn2)
            (qid, (if (denom > 0) dot / denom else 0.0, cid))
        }
      }
    }
    implicit val ord: Ordering[(Double, Long)] =
      Ordering.by((t: (Double, Long)) => (-t._1, t._2))(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
    val shortlist = new graft.typed.Grouped(scored)
      .sortedTake(shortlistSize)
      .ds.flatMap { case (qid, tops) =>
        tops.map { case (score, cid) => (qid, cid, score) }
      }
      .toDF("qid", "cid", "adc")

    if (rerank <= 0) shortlist.withColumnRenamed("adc", "cos")
    else {
      val qn = qs.map { case (qid, qv) => (qid, qv, VecUtil.norm(qv)) }
      val bq = spark.sparkContext.broadcast(qn.map(t => t._1 -> (t._2, t._3)).toMap)
      val exact = shortlist.join(corpusVecs.toDF("cid", "cvec"), "cid")
        .select(col("qid"), col("cid"), col("cvec"))
        .as[(Long, Long, Array[Float])]
        .map { case (qid, cid, cv) =>
          val (qv, qnorm) = bq.value(qid)
          (qid, (VecUtil.dot(qv, cv) / (qnorm * VecUtil.norm(cv) + 1e-12), cid))
        }
      new graft.typed.Grouped(exact)
        .sortedTake(k)
        .ds.flatMap { case (qid, tops) =>
          tops.map { case (cos, cid) => (qid, cid, cos) }
        }
        .toDF("qid", "cid", "cos")
    }
  }

  /** IVF-PQ: coarse-quantize the corpus onto `nCentroids` inverted
    * lists, PQ-encode each vector's RESIDUAL (v − centroid) with
    * codebooks shared across lists, and answer queries by probing the
    * `nProbe` nearest lists with ADC over the residual codes — the
    * canonical large-scale ANN index (FAISS's IVFPQ; Jégou et al.
    * 2011 §IV). Storage per vector is m bytes + a centroid id; the
    * probe scan touches only nProbe/nCentroids of the corpus and no
    * float vectors at all.
    *
    * Cosine is reconstructed exactly from bounded driver-side tables:
    * dot(q, c + r̂) = dot(q, c) + Σ_sub table_q(sub)(code), and
    * ‖c + r̂‖² = ‖c‖² + 2·Σ_sub cdot(centroid)(sub)(code) +
    * Σ_sub ‖codeword‖², where `cdot` (nCentroids·m·k doubles) and the
    * codeword norm table are query-independent.
    *
    * Same contracts as [[Similarity.ivfTopK]]: the query side is
    * collected/broadcast (small by contract), training is
    * deterministic for a fixed seed, `rerank > 0` re-scores a
    * shortlist against the original vectors via a narrow id join.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, m: Int = 8, kCodes: Int = 16,
      seed: Long = 42L, kmeansIters: Int = 2, iters: Int = 2,
      rerank: Int = 0, softAssign: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val corpusVecs = graft.core.PipelineCaches.persistTracked(
      corpus.select(col("id"), col("vec")).as[(Long, Array[Float])])
    val cents = Similarity.trainCentroids(corpusVecs, nCentroids, seed,
      kmeansIters)
    val centsIdx = cents.zipWithIndex
      .map { case (v, i) => (i, v, VecUtil.norm(v)) }
    val bcCents = spark.sparkContext.broadcast(centsIdx)

    // nearest `n` centroids by cosine (ties to lower id)
    def nearestCentroids(v: Array[Float],
        table: Array[(Int, Array[Float], Double)], n: Int): Array[Int] = {
      val vn = VecUtil.norm(v)
      table.map { case (ci, cv, cn) =>
        (ci, VecUtil.dot(v, cv) / (vn * cn + 1e-12))
      }.sortBy { case (ci, s) => (-s, ci) }.take(n).map(_._1)
    }

    // residual stream (centroid, id, v − c): PQ trains on the PRIMARY
    // residual; softAssign > 1 replicates each vector into its
    // `softAssign` nearest lists (FAISS's multi-assignment recall/
    // storage trade), each with the residual vs that list's centroid
    val primary = corpusVecs.map { case (id, v) =>
      val ci = nearestCentroids(v, bcCents.value, 1).head
      val cv = bcCents.value(ci)._2
      val r = new Array[Float](v.length)
      var i = 0
      while (i < v.length) { r(i) = v(i) - cv(i); i += 1 }
      (ci, id, r)
    }
    val cb = train(primary.map(t => (t._2, t._3)).toDF("id", "vec"),
      m, kCodes, seed, iters)
    val bcCb = spark.sparkContext.broadcast(cb)
    // inverted lists: (centroid, cid, residual codes)
    val lists = graft.core.PipelineCaches.persistTracked(
      corpusVecs.flatMap { case (id, v) =>
        nearestCentroids(v, bcCents.value, softAssign).iterator.map { ci =>
          val cv = bcCents.value(ci)._2
          val r = new Array[Float](v.length)
          var i = 0
          while (i < v.length) { r(i) = v(i) - cv(i); i += 1 }
          (ci, id, bcCb.value.encodeOne(r))
        }
      })

    searchLists(lists.toDF("centroid", "id", "codes"), centsIdx, cb,
      queries, k, nProbe, rerank,
      rerankWith = if (rerank > 0) Some(corpusVecs.toDF("id", "vec")) else None,
      dedupFactor = softAssign)
  }

  /** Query a PERSISTED IVF-PQ index: `lists` is the (centroid, id,
    * codes) table written by an index build ([[ivfPqTopK]]'s encode
    * stage or [[graft.examples.EmbeddingIndexJob]]), `centroids` the
    * (cid, cvec) table, `cb` the codebooks (round-trip them with
    * [[Codebooks.toBytes]]/[[codebooksFromBytes]]). Separating build
    * from query is the production shape — the corpus-sized encode
    * runs once per index version, every query batch pays only the
    * probe scan. `rerankWith` supplies original (id, vec) rows when
    * exact re-ranking of the shortlist is wanted.
    */
  def searchIvfPq(lists: DataFrame, centroids: DataFrame, cb: Codebooks,
      queries: DataFrame, k: Int, nProbe: Int = 4, rerank: Int = 0,
      rerankWith: Option[DataFrame] = None, softAssign: Int = 1): DataFrame = {
    val spark = lists.sparkSession
    import spark.implicits._
    val cents = centroids.select(col("cid"), col("cvec"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    require(cents.nonEmpty, "empty centroid table")
    require(cents.map(_._1).toSeq == (0L until cents.length).toSeq,
      "centroid ids must be contiguous 0..n-1 (they index the lists)")
    val centsIdx = cents.map { case (ci, cv) =>
      (ci.toInt, cv, VecUtil.norm(cv)) }
    searchLists(lists, centsIdx, cb, queries, k, nProbe, rerank, rerankWith,
      dedupFactor = softAssign)
  }

  /** Residual-encode NEW vectors against an existing index's centroid
    * table and codebooks — incremental IVF-PQ maintenance: the daily
    * append touches only the delta (one scan, no retraining, no
    * shuffle), and the result unions onto the stored lists. Determin-
    * istic: appending a corpus in any split order yields exactly the
    * rows a single whole-corpus encode against the same artifacts
    * yields.
    */
  def appendToIndex(newVecs: DataFrame, centroids: DataFrame,
      cb: Codebooks, softAssign: Int = 1): DataFrame = {
    val spark = newVecs.sparkSession
    import spark.implicits._
    val cents = centroids.select(col("cid"), col("cvec"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
      .map { case (ci, cv) => (ci.toInt, cv, VecUtil.norm(cv)) }
    require(cents.nonEmpty, "empty centroid table")
    val bcCents = spark.sparkContext.broadcast(cents)
    val bcCb = spark.sparkContext.broadcast(cb)
    newVecs.select(col("id"), col("vec")).as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        val table = bcCents.value
        val vn = VecUtil.norm(v)
        table.map { case (ci, cv, cn) =>
          (ci, VecUtil.dot(v, cv) / (vn * cn + 1e-12))
        }.sortBy { case (ci, s) => (-s, ci) }.take(softAssign)
          .iterator.map { case (ci, _) =>
            val cv = table(ci)._2
            val r = new Array[Float](v.length)
            var i = 0
            while (i < v.length) { r(i) = v(i) - cv(i); i += 1 }
            (ci, id, bcCb.value.encodeOne(r))
          }
      }
      .toDF("centroid", "id", "codes")
  }

  /** Shared probe/score kernel over (centroid, id, codes) lists.
    * `dedupFactor` = the lists' soft-assignment multiplicity: a
    * (qid, cid) pair can surface once per replica (with different
    * residual scores), so the bounded top-k collects `dedupFactor`×
    * the shortlist and keeps each pair's best ADC score before
    * ranking.
    */
  private def searchLists(lists: DataFrame,
      centsIdx: Array[(Int, Array[Float], Double)], cb: Codebooks,
      queries: DataFrame, k: Int, nProbe: Int, rerank: Int,
      rerankWith: Option[DataFrame], dedupFactor: Int = 1): DataFrame = {
    val spark = lists.sparkSession
    import spark.implicits._
    val m = cb.m
    val kCodes = cb.k
    val bcCents = spark.sparkContext.broadcast(centsIdx)
    val bcCb = spark.sparkContext.broadcast(cb)
    val qs = queries.select(col("id"), col("vec")).as[(Long, Array[Float])]
      .collect()
    // query-independent tables: codeword norms + centroid·codeword dots
    val cdot: Array[Array[Array[Double]]] = centsIdx.map { case (_, cv, _) =>
      Array.tabulate(m, kCodes) { (sub, code) =>
        val cw = cb.books(sub)(code)
        var d = 0.0
        var i = 0
        while (i < cb.subDim) { d += cv(sub * cb.subDim + i) * cw(i); i += 1 }
        d
      }
    }
    // per-query: nProbe centroid ids, dot(q, c) per probed centroid,
    // and the m×k residual ADC table
    val probes = qs.map { case (qid, qv) =>
      val qn = VecUtil.norm(qv)
      // rank probe lists by cosine (matching the assignment rule) but
      // carry the RAW dot(q, c) — the scoring identity needs it
      val probed = centsIdx.map { case (ci, cv, cn) =>
        val d = VecUtil.dot(qv, cv)
        (ci, d, d / (qn * cn + 1e-12))
      }.sortBy { case (ci, _, s) => (-s, ci) }.take(nProbe)
        .map { case (ci, d, _) => (ci, d) }
      val table = Array.tabulate(m, kCodes) { (sub, code) =>
        val cw = cb.books(sub)(code)
        var d = 0.0
        var i = 0
        while (i < cb.subDim) { d += qv(sub * cb.subDim + i) * cw(i); i += 1 }
        d
      }
      (qid, qn, probed, table)
    }
    val bcProbes = spark.sparkContext.broadcast(probes)
    val bcCdot = spark.sparkContext.broadcast(cdot)

    val shortlistSize = math.max(k, rerank) * math.max(1, dedupFactor)
    val scored = lists.select(col("centroid").cast("int"), col("id"),
        col("codes"))
      .as[(Int, Long, Array[Byte])].mapPartitions { it =>
      val local = bcCb.value
      val nsq = local.normSq
      val cents = bcCents.value
      val cd = bcCdot.value
      // probe index: centroid → (qid, qn, dot(q,c), table)
      val byCentroid = bcProbes.value.flatMap { case (qid, qn, probed, t) =>
        probed.map { case (ci, qcDot) => (ci, (qid, qn, qcDot, t)) }
      }.groupBy(_._1).map { case (ci, xs) => (ci, xs.map(_._2)) }
      it.flatMap { case (ci, cid, codes) =>
        byCentroid.getOrElse(ci, Array.empty).iterator.collect {
          case (qid, qn, qcDot, t) if qid != cid =>
            var rDot = 0.0
            var rn2 = 0.0
            var ccDot = 0.0
            var sub = 0
            while (sub < local.m) {
              val code = codes(sub) & 0xff
              rDot += t(sub)(code)
              rn2 += nsq(sub)(code)
              ccDot += cd(ci)(sub)(code)
              sub += 1
            }
            val cn = cents(ci)._3
            val recNorm = math.sqrt(math.max(0.0, cn * cn + 2 * ccDot + rn2))
            val denom = qn * recNorm
            (qid, (if (denom > 0) (qcDot + rDot) / denom else 0.0, cid))
        }
      }
    }
    implicit val ord: Ordering[(Double, Long)] =
      Ordering.by((t: (Double, Long)) => (-t._1, t._2))(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
    val shortlist0 = new graft.typed.Grouped(scored)
      .sortedTake(shortlistSize)
      .ds.flatMap { case (qid, tops) =>
        tops.map { case (score, cid) => (qid, cid, score) }
      }
      .toDF("qid", "cid", "adc")
    // soft-assigned lists surface a pair once per replica: keep each
    // pair's best ADC score (the shortlist is k·|queries|-bounded, so
    // this window is cheap)
    val shortlist =
      if (dedupFactor <= 1) shortlist0
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qid", "cid").orderBy(col("adc").desc)
        shortlist0.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }

    (if (rerank <= 0) None else rerankWith) match {
      case None =>
        if (dedupFactor <= 1) shortlist.withColumnRenamed("adc", "cos")
        else {
          // trim the inflated shortlist back to k per query
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("qid").orderBy(col("adc").desc, col("cid"))
          shortlist.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") <= k).drop("__rn")
            .withColumnRenamed("adc", "cos")
        }
      case Some(corpus) =>
        val bq = spark.sparkContext.broadcast(
          qs.map { case (qid, qv) => qid -> (qv, VecUtil.norm(qv)) }.toMap)
        val exact = shortlist
          .join(corpus.select(col("id").as("cid"), col("vec").as("cvec")), "cid")
          .select(col("qid"), col("cid"), col("cvec"))
          .as[(Long, Long, Array[Float])]
          .map { case (qid, cid, cv) =>
            val (qv, qnorm) = bq.value(qid)
            (qid, (VecUtil.dot(qv, cv) / (qnorm * VecUtil.norm(cv) + 1e-12), cid))
          }
        new graft.typed.Grouped(exact)
          .sortedTake(k)
          .ds.flatMap { case (qid, tops) =>
            tops.map { case (cos, cid) => (qid, cid, cos) }
          }
          .toDF("qid", "cid", "cos")
    }
  }
}
