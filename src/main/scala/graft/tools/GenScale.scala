package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator for the next bench decade: replicates the
  * driver's sf0.1 tables `factor`× with disjoint key spaces so join
  * and graph cardinalities scale the way real TPC-H scaling does
  * (10× orders AND 10× parts → constant co-purchase graph density,
  * 10 disjoint replica components — NOT 10× densification of one
  * component, which would quadratically inflate wedge counts and
  * measure a different workload than the driver's own sf1 would).
  *
  * Text is word-shuffled per replica (seeded Fisher–Yates, same seed
  * for every doc in a replica): unigram statistics — token counts,
  * language-id profiles, BM25 term frequencies — are preserved
  * exactly, while shingle/bigram overlap across replicas is
  * destroyed, so near-dup candidate volume scales like a 10× corpus
  * of distinct documents rather than exploding with cross-replica
  * Jaccard-0.99 pairs. Within a replica, near-dup structure survives
  * (equal-length near-identical docs get the same permutation).
  * Embeddings get deterministic per-replica noise then re-normalize.
  *
  * Usage:
  *   sbt "runMain graft.tools.GenScale /root/testdata/sf0.1 .tmp/sf1 10"
  */
object GenScale {

  def shuffleWords(text: String, replica: Int): String = {
    if (replica == 0 || text == null) return text
    val words = text.split(' ')
    val rnd = new java.util.Random(replica.toLong * 0x9E3779B97F4A7C15L)
    var i = words.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = words(i); words(i) = words(j); words(j) = t
      i -= 1
    }
    words.mkString(" ")
  }

  def perturbVec(v: Seq[Float], replica: Int, vecId: Long): Seq[Float] = {
    if (replica == 0 || v == null) return v
    var h = replica.toLong * 0x9E3779B97F4A7C15L ^ vecId * 0xC2B2AE3D27D4EB4FL
    val out = new Array[Float](v.length)
    var i = 0
    while (i < v.length) {
      h = h * 6364136223846793005L + 1442695040888963407L
      val noise = ((h >>> 40).toInt.toDouble / (1 << 24) - 0.5) * 0.2
      out(i) = (v(i) + noise).toFloat
      i += 1
    }
    val norm = math.sqrt(out.map(x => x.toDouble * x).sum)
    if (norm > 0) out.map(x => (x / norm).toFloat).toSeq else out.toSeq
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else ".tmp/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.core.GraftSession.forMain()

    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[genscale] wrote $t")
    }
    // replica index r = 0..factor-1; key k → k + r*span keeps every
    // replica's foreign keys internally consistent and disjoint
    val reps = spark.range(factor).toDF("r")
    def rep(df: DataFrame): DataFrame = df.crossJoin(reps)
    def off(c: String, span: Long) = col(c) + col("r") * span

    // spans = max key + 1 at the source SF (keys are 0-based dense)
    val partSpan = 20000L
    val suppSpan = 1000L
    val custSpan = 15000L
    val orderSpan = 150000L
    val docSpan = 5000L
    val vecSpan = 2000L
    val eventSpan = 100000L

    wr(rd("region"), "region")
    wr(rd("nation"), "nation")
    wr(rep(rd("customer"))
      .withColumn("c_custkey", off("c_custkey", custSpan)).drop("r"),
      "customer")
    wr(rep(rd("supplier"))
      .withColumn("s_suppkey", off("s_suppkey", suppSpan)).drop("r"),
      "supplier")
    wr(rep(rd("part"))
      .withColumn("p_partkey", off("p_partkey", partSpan)).drop("r"), "part")
    wr(rep(rd("orders"))
      .withColumn("o_orderkey", off("o_orderkey", orderSpan))
      .withColumn("o_custkey", off("o_custkey", custSpan)).drop("r"),
      "orders")
    wr(rep(rd("lineitem"))
      .withColumn("l_orderkey", off("l_orderkey", orderSpan))
      .withColumn("l_partkey", off("l_partkey", partSpan))
      .withColumn("l_suppkey", off("l_suppkey", suppSpan)).drop("r"),
      "lineitem")
    wr(rep(rd("events"))
      .withColumn("event_id", off("event_id", eventSpan))
      .withColumn("user_id", off("user_id", custSpan)).drop("r"), "events")

    val shuffleUdf = udf((t: String, r: Int) => shuffleWords(t, r))
    wr(rep(rd("documents"))
      .withColumn("doc_id", off("doc_id", docSpan))
      .withColumn("text", shuffleUdf(col("text"), col("r").cast("int")))
      .drop("r"), "documents")

    val vecUdf = udf((v: Seq[Float], r: Int, id: Long) => perturbVec(v, r, id))
    wr(rep(rd("embeddings"))
      .withColumn("embedding",
        vecUdf(col("embedding"), col("r").cast("int"), col("vec_id")))
      .withColumn("vec_id", off("vec_id", vecSpan))
      .drop("r"), "embeddings")

    spark.stop()
  }
}
