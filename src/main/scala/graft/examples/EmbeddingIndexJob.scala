package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Args, GraftJob, GraftSession}
import graft.ml.{Pca, Pq, Similarity}

/** The embedding-side assembly line — the vector analogue of
  * [[TrainingDataJob]]: curate an (id, vec) corpus and build the
  * serving-ready ANN index, every stage the single-scan /
  * broadcast-bounded shape that survives a 100 TB vector corpus:
  *
  *  1. exact dedup: identical vectors (bit-equal after float
  *     canonicalization) collapse to the lowest id — one hash
  *     exchange on the vector bytes;
  *  2. near-dedup: hyperplane-LSH-bucketed cosine pairs ≥ `dupCos`
  *     collapse to the lowest id per pair chain (greedy loser drop);
  *  3. prototypicality prune: k-means centroids (distributed Lloyd),
  *     drop vectors with cos(v, centroid) < `minProto` — the
  *     SemDeDup-style off-distribution screen;
  *  4. index build: IVF lists (coarse centroid assignment) +
  *     residual PQ codes — m bytes per vector plus a centroid id;
  *  5. manifest: per-list occupancy + code-size accounting, the
  *     operational health check (empty / over-full lists are the
  *     IVF failure modes worth alerting on).
  *
  * Writes `<output>/index` (centroid, id, codes), `<output>/pruned`
  * (survivor ids + proto scores), `<output>/manifest` (per-list
  * stats). Shuffle audit: stages 1-2 exchange on narrow keys
  * (vector-hash / bucket), stages 3-4 are centroid-broadcast scans,
  * stage 5 aggregates the index — the raw vector corpus is never
  * shuffled whole.
  *
  * Args: --input <embeddings parquet> --output <dir>
  *       [--dup-cos 0.995] [--min-proto 0.0] [--centroids 16]
  *       [--m 8] [--codes 16] [--seed 42]
  *       [--pca-k 0 (off)] [--whiten]
  */
class EmbeddingIndexJob(args: Args) extends GraftJob(args) {

  def run(spark: SparkSession): Unit = {
    val out = args("output")
    val r = EmbeddingIndexJob.build(
      GraftSession.readParquet(spark, args("input"))
        .select(col("vec_id").as("id"), col("embedding").as("vec")),
      dupCos = args.getOrElse("dup-cos", "0.995").toDouble,
      minProto = args.getOrElse("min-proto", "0.0").toDouble,
      nCentroids = args.getOrElse("centroids", "16").toInt,
      m = args.getOrElse("m", "8").toInt,
      kCodes = args.getOrElse("codes", "16").toInt,
      seed = args.getOrElse("seed", "42").toLong,
      pcaK = args.getOrElse("pca-k", "0").toInt,
      whiten = args.boolean("whiten"))
    r.index.write.partitionBy("centroid").mode("overwrite")
      .parquet(s"$out/index")
    r.pruned.write.mode("overwrite").parquet(s"$out/pruned")
    r.manifest.write.mode("overwrite").parquet(s"$out/manifest")
    r.centroids.write.mode("overwrite").parquet(s"$out/centroids")
    import spark.implicits._
    Seq(r.codebooks.toBytes).toDF("codebook_bytes")
      .write.mode("overwrite").parquet(s"$out/codebooks")
    // query-side projection artifact: row -1 = mean, rows 0..k-1 =
    // components, eigenvalue carried per component row
    r.pca.foreach { mdl =>
      ((-1, mdl.mean.toSeq, 0.0) +: mdl.components.toSeq.zipWithIndex.map {
        case (c, i) => (i, c.toSeq, mdl.eigenvalues(i))
      }).toDF("component", "values", "eigenvalue")
        .write.mode("overwrite").parquet(s"$out/pca")
    }
    graft.core.PipelineCaches.unpersistAll()
  }
}

object EmbeddingIndexJob {

  /** `index`: (centroid, id, codes) — the IVF-PQ lists.
    * `pruned`: (id, centroid, proto) — survivors with their scores.
    * `manifest`: per-centroid (n_vectors, bytes, min/mean proto).
    * `centroids`: the (cid, cvec) table; `codebooks`: the PQ books —
    * together with `index` these are the complete queryable artifact
    * ([[graft.ml.Pq.searchIvfPq]]) and the append target
    * ([[graft.ml.Pq.appendToIndex]]).
    */
  final case class Result(index: DataFrame, pruned: DataFrame,
      manifest: DataFrame, centroids: DataFrame,
      codebooks: graft.ml.Pq.Codebooks, pca: Option[Pca.Model] = None)

  def build(vecs0: DataFrame, dupCos: Double = 0.995,
      minProto: Double = 0.0, nCentroids: Int = 16, m: Int = 8,
      kCodes: Int = 16, seed: Long = 42L, pcaK: Int = 0,
      whiten: Boolean = false): Result = {
    val spark = vecs0.sparkSession
    import spark.implicits._
    val raw = graft.core.PipelineCaches.persistTracked(
      vecs0.select(col("id"), col("vec")).as[(Long, Array[Float])]).toDF("id", "vec")

    // 1. exact dedup on the RAW vector bytes (lowest id wins) —
    // upstream of any projection, since PCA is many-to-one in
    // principle and must not manufacture "exact" duplicates
    val exact = raw
      .withColumn("__vkey", xxhash64(col("vec").cast("string")))
      .groupBy("__vkey").agg(min(col("id")).as("keep"))
      .select(col("keep").as("id"))
    val afterExactRaw = raw.join(exact, Seq("id"), "left_semi")

    // one vector off the cached scan gives the width: reading it off
    // a deduped side would run the whole exact-dedup plan for it
    val rawDim = raw.select("vec").as[Array[Float]].head().length

    // 1b. optional PCA reduce/whiten of the survivors: centroid
    // training, LSH banding and PQ all get cheaper and
    // better-conditioned on decorrelated k-dim vectors; queries
    // replay the projection via the persisted model.
    val pcaModel: Option[Pca.Model] =
      if (pcaK > 0) Some(Pca.fit(afterExactRaw, "vec", rawDim, pcaK)) else None
    val afterExact = pcaModel match {
      case None => afterExactRaw
      case Some(mdl) =>
        graft.core.PipelineCaches.persistTracked(
          Pca.project(afterExactRaw, "id", "vec", mdl, whiten)
            .select(col("id"),
              transform(col("proj"), x => x.cast("float")).as("vec"))
            .as[(Long, Array[Float])]).toDF("id", "vec")
    }

    // 2. near-dedup: LSH-bucketed pairs ≥ dupCos; every id that loses
    // any pair (appears as the higher id) drops — greedy, determinist
    val losers = Similarity.cosineNearDuplicates(afterExact, dupCos,
        dim = if (pcaK > 0) pcaK else rawDim)
      .select(col("id2").as("id")).distinct()
    val deduped = graft.core.PipelineCaches.persistTracked(
      afterExact.join(losers, Seq("id"), "left_anti")
        .as[(Long, Array[Float])]).toDF("id", "vec")

    // 3. prototypicality prune against trained k-means centroids
    val centDf = Similarity.kmeansCentroids(deduped, nCentroids, seed,
      kmeansIters = 2)
    val cents = centDf.as[(Long, Array[Float])].collect().sortBy(_._1)
    val pruned = graft.core.PipelineCaches.persistTracked(
      Similarity.pruneByPrototypicality(deduped, centDf, minProto))
    val kept = deduped.join(pruned.select("id"), Seq("id"), "left_semi")

    // 4. IVF-PQ lists: residual-encode survivors against their centroid
    val bcCents = spark.sparkContext.broadcast(
      cents.map { case (ci, cv) =>
        (ci, cv, Similarity.VecUtil.norm(cv)) })
    val residuals = kept.as[(Long, Array[Float])].map { case (id, v) =>
      val vn = Similarity.VecUtil.norm(v)
      var bestId = bcCents.value.head._1
      var best = Double.MinValue
      bcCents.value.foreach { case (ci, cv, cn) =>
        val s = Similarity.VecUtil.dot(v, cv) / (vn * cn)
        if (s > best) { best = s; bestId = ci }
      }
      val cv = bcCents.value(bestId.toInt)._2
      val r = new Array[Float](v.length)
      var i = 0
      while (i < v.length) { r(i) = v(i) - cv(i); i += 1 }
      (bestId, id, r)
    }
    val cb = Pq.train(residuals.map(t => (t._2, t._3)).toDF("id", "vec"),
      m, kCodes, seed, iters = 2)
    val bcCb = spark.sparkContext.broadcast(cb)
    val index = graft.core.PipelineCaches.persistTracked(
      residuals.map { case (ci, id, r) => (ci, id, bcCb.value.encodeOne(r)) }
        .toDF("centroid", "id", "codes"))

    // 5. per-list manifest joined with proto stats
    val manifest = index.groupBy("centroid")
      .agg(count(lit(1)).as("n_vectors"),
        sum(length(col("codes"))).as("code_bytes"))
      .join(pruned.groupBy(col("centroid"))
          .agg(min("proto").as("min_proto"), avg("proto").as("mean_proto")),
        Seq("centroid"), "left")
      .orderBy("centroid")

    Result(index, pruned, manifest, centDf, cb, pcaModel)
  }
}
