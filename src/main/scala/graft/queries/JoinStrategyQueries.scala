package graft.queries

import org.apache.spark.sql.functions._
import graft.join.Joins

/** Physical-join-strategy coverage: salted block join and AQE skew
  * join must produce byte-identical results to a plain inner join —
  * the reference's own differential-test contract
  * (SkewJoinTest.scala:26-130: "skew join == plain join on random
  * data").
  */
object JoinStrategyQueries extends QueryGroup {

  private val plainJoinSql =
    """SELECT l_orderkey, count(*) AS n,
      |  round(sum(l_extendedprice * o_totalprice / 1000000.0), 2) AS xprod
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY l_orderkey""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // salted replicate-fragment join (blockJoinWithSmaller,
    // JoinAlgorithms.scala:265-341): result must equal the plain join.
    q("q_join_block", plainJoinSql) { (s, dir) =>
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      Joins.blockJoin(li, o, Seq("l_orderkey"), rightReplication = 4)
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * col("o_totalprice") / 1000000.0), 2).as("xprod"))
        .orderBy("l_orderkey")
    },

    // adaptive skew join (skewJoinWithSmaller,
    // JoinAlgorithms.scala:365-458 → AQE runtime skew split).
    q("q_join_skew", plainJoinSql) { (s, dir) =>
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      Joins.skewJoin(li, o, Seq("l_orderkey"))
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * col("o_totalprice") / 1000000.0), 2).as("xprod"))
        .orderBy("l_orderkey")
    },

    // bloom-filter pre-join: prune the fact scan against a selective
    // dim subset before the shuffle; false positives die in the real
    // join, so the result must equal the plain filtered join.
    q("q_join_bloom",
      """SELECT l_orderkey, count(*) AS n,
        |  round(sum(l_extendedprice * o_totalprice / 1000000.0), 2) AS xprod
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 400000
        |GROUP BY 1 ORDER BY l_orderkey""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice")
      val hi = t(s, dir, "orders")
        .filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      Joins.bloomJoin(li, hi, Seq("l_orderkey"))
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * col("o_totalprice") / 1000000.0), 2).as("xprod"))
        .orderBy("l_orderkey")
    }
  )
}
