package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Args, GraftJob, GraftSession}
import graft.matrix.Matrix

/** PageRank as a driver-loop job — parity with the reference's
  * iterative `Job.next` idiom (examples/PageRank.scala:22-81): run
  * until the rank delta drops under `--convergence` or `--maxiters`
  * is hit, reading the error scalar back at the driver
  * (readAtSubmitter). Lineage is cut every iteration via persist (the
  * reference wrote temp files between steps).
  *
  * Args: --edges <parquet src,dst[,weight]> --output <dir>
  *       [--damping 0.85] [--maxiters 20] [--convergence 0.001]
  */
class PageRankJob(args: Args) extends GraftJob(args) {

  def run(spark: SparkSession): Unit = {
    val damping = args.getOrElse("damping", "0.85").toDouble
    val maxIters = args.getOrElse("maxiters", "20").toInt
    val eps = args.getOrElse("convergence", "0.001").toDouble

    val edges = GraftSession.readParquet(spark, args("edges"))
    val weighted =
      if (edges.columns.length > 2) edges
      else edges.withColumn("__w", lit(1.0))
    val wcol = if (edges.columns.length > 2) edges.columns(2) else "__w"
    val m = Matrix.fromCoo(weighted, edges.columns(0), edges.columns(1), wcol)
    val stochastic = m.rowL1Normalize

    val nodes = stochastic.df.select(col("row")).unionByName(
      stochastic.df.select(col("col").as("row"))).distinct()
    var ranks: DataFrame = nodes.withColumn("val", lit(1.0)).persist()

    var iter = 0
    var delta = Double.MaxValue
    while (iter < maxIters && delta > eps) {
      val next = stochastic.propagate(ranks)
        .select(col("row"), (col("val") * damping + (1 - damping)).as("val"))
        // nodes with no inbound edges keep the teleport mass
        .unionByName(nodes.join(
          stochastic.df.select(col("col").as("row")).distinct(),
          Seq("row"), "left_anti").withColumn("val", lit(1 - damping)))
        .persist()
      // convergence scalar read back at the driver
      delta = next.alias("n")
        .join(ranks.alias("p"), "row")
        .agg(sum(abs(col("n.val") - col("p.val"))).as("d"))
        .collect().head.getDouble(0)
      ranks.unpersist()
      ranks = next
      iter += 1
    }
    ranks.write.mode("overwrite").parquet(args("output"))
  }
}
