package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Args, GraftJob, GraftSession}
import graft.matrix.{ColVector, Matrix}

/** Weighted PageRank — port of the reference's adjacency-list job
  * (examples/WeightedPageRank.scala:28-231). One iteration over a
  * pre-built node table, with the reference's exact mass algebra:
  *
  *   pagerankNext(i) = Σ_{j→i} mass_input(j) · w(j,i) / tw(j)
  *   deadMass        = (1 − Σ pagerankNext) / N
  *   out(i) = mass_prior(i)·α + deadMass·(1−α) + (1−α)·pagerankNext(i)
  *
  * (unweighted: w/tw becomes 1/outdegree). Dangling nodes contribute
  * nothing to pagerankNext; their lost mass returns evenly through
  * deadMass — the reference's "dead pagerank is evenly distributed".
  *
  * Scale shape: the per-edge fan-out is one `explode` over the
  * adjacency arrays (no join per edge), the mass aggregation is one
  * hash shuffle on the destination id, and the two scalars (total
  * next-mass, dead mass) are 1-row aggregates broadcast back — the
  * corpus-sized tables never see a global window or driver collect.
  */
object WeightedPageRank {

  /** One iteration. `nodes`: (src_id, dst_ids: array<long>,
    * weights: array<double>, mass_prior: double); `ranks`:
    * (src_id, mass_input: double). Returns
    * (src_id, mass_n, mass_input) like the reference's doPageRank.
    */
  def iterate(nodes: DataFrame, ranks: DataFrame, alpha: Double,
      weighted: Boolean, numNodes: Long): DataFrame = {
    val nodeJoined = nodes.join(ranks, "src_id")

    // per-edge mass distribution: explode the zipped (dst, weight)
    // adjacency — the flatMapTo of the reference, as one Generate
    val contrib =
      if (weighted)
        nodeJoined.filter(size(col("dst_ids")) > 0)
          .select(explode(arrays_zip(col("dst_ids"), col("weights"))).as("e"),
            (col("mass_input") / aggregate(col("weights"), lit(0.0),
              (s, w) => s + w)).as("__rate"))
          .select(col("e.dst_ids").as("src_id"),
            (col("__rate") * col("e.weights")).as("mass_n"))
      else
        nodeJoined.filter(size(col("dst_ids")) > 0)
          .select(explode(col("dst_ids")).as("src_id"),
            (col("mass_input") / size(col("dst_ids"))).as("mass_n"))

    val pagerankNext = contrib.groupBy("src_id").agg(sum("mass_n").as("mass_n"))

    // dead mass: 1-row scalar, broadcast back (crossWithTiny in the
    // reference; numNodes is a driver-known constant here). Coalesced:
    // an all-dangling graph makes pagerankNext empty and sum NULL,
    // but its dead mass is the full unit of rank, not NULL.
    val dead = pagerankNext.agg(
      ((lit(1.0) - coalesce(sum("mass_n"), lit(0.0))) / numNodes).as("__dead"))

    val randomPagerank = nodeJoined.crossJoin(broadcast(dead))
      .select(col("src_id"),
        (col("mass_prior") * alpha + col("__dead") * (1 - alpha)).as("mass_n"),
        col("mass_input"))

    val pagerankNextScaled = pagerankNext
      .select(col("src_id"), (col("mass_n") * (1 - alpha)).as("mass_n"),
        lit(0.0).as("mass_input"))

    randomPagerank.unionByName(pagerankNextScaled)
      .groupBy("src_id")
      .agg(sum("mass_n").as("mass_n"), sum("mass_input").as("mass_input"))
  }

  /** Σ |mass_input − mass_n| — the convergence scalar the driver
    * reads back (reference totaldiff sink).
    */
  def totalDiff(iterated: DataFrame): Double =
    iterated.agg(sum(abs(col("mass_input") - col("mass_n"))))
      .collect().head.getDouble(0)
}

/** Driver-loop form (the reference's Job.next recursion): iterate
  * until the total rank delta drops under `--threshold` or
  * `--maxiterations` is hit, cutting lineage each step.
  *
  * Args: --nodes <parquet: src_id,dst_ids,weights,mass_prior>
  *       --output <dir> [--weighted false] [--jumpprob 0.1]
  *       [--threshold 0.001] [--maxiterations 20]
  */
class WeightedPageRankJob(args: Args) extends GraftJob(args) {
  def run(spark: SparkSession): Unit = {
    val alpha = args.getOrElse("jumpprob", "0.1").toDouble
    val weighted = args.getOrElse("weighted", "false").toBoolean
    val threshold = args.getOrElse("threshold", "0.001").toDouble
    val maxIters = args.getOrElse("maxiterations", "20").toInt

    val nodes = GraftSession.readParquet(spark, args("nodes")).localCheckpoint()
    val n = nodes.count()
    // `checkpointed` tracks the frame actually holding blocks so each
    // superseded iteration is released — unpersisting a derived select
    // would miss them, and a long run would pin every iteration's rank
    // table in storage
    var checkpointed = nodes
      .select(col("src_id"), col("mass_prior").as("mass_input"))
      .localCheckpoint()
    var ranks = checkpointed
    var iter = 0
    var diff = Double.MaxValue
    while (iter < maxIters && diff > threshold) {
      val out = WeightedPageRank.iterate(nodes, ranks, alpha, weighted, n)
        .localCheckpoint()
      diff = WeightedPageRank.totalDiff(out)
      checkpointed.unpersist(blocking = false)
      checkpointed = out
      ranks = out.select(col("src_id"), col("mass_n").as("mass_input"))
      iter += 1
    }
    ranks.select(col("src_id"), col("mass_input").as("mass"))
      .write.mode("overwrite").parquet(args("output"))
    checkpointed.unpersist(blocking = false)
  }
}

/** Weighted PageRank expressed on the Matrix library — port of the
  * reference's WeightedPageRankFromMatrix
  * (examples/WeightedPageRankFromMatrix.scala:43-135):
  *
  *   M_hat = d · (A.rowL1Normalize).transpose
  *   prior = ((1 − d) / n) · 1⃗
  *   R(t+1) = M_hat · R(t) + prior
  *
  * The reference materializes M_hat and prior to TSV at iteration 0
  * and re-reads them after; here they are computed once and lineage-
  * cut, the same persistence intent without the filesystem hop.
  */
object WeightedPageRankFromMatrix {

  /** d · rowL1Normalize(A)ᵀ — the constant iteration matrix. */
  def mHat(edges: Matrix, d: Double): Matrix =
    edges.rowL1Normalize.transpose * d

  /** ((1−d)/n) · onesVector over `nodes` (idx). */
  def priorVector(nodes: DataFrame, d: Double, n: Long): ColVector =
    ColVector(nodes.select(col("idx"),
      lit((1.0 - d) / n).as(Matrix.V)))

  /** One iteration: R(t+1) = M_hat · R(t) + prior. */
  def iterate(m: Matrix, prev: ColVector, prior: ColVector): ColVector =
    prev.leftMultiply(m) + prior

  /** Σ |prev − next| convergence scalar. */
  def diff(prev: ColVector, next: ColVector): Double =
    (prev - next).l1Norm.collect().head.getDouble(0)
}
