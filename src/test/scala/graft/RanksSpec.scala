package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Ranks

/** The two-pass order statistics must replay the single-partition
  * window forms EXACTLY — rank for rank, prefix sum for prefix sum,
  * column type for column type — since every kernel that orders a
  * table goes through [[Ranks.rank]] / [[Ranks.prefixSums]], which
  * switch between the two on the table's size estimate, and their
  * gates are hash-compared against a DuckDB oracle.
  */
class RanksSpec extends SparkSpec {

  private def base = {
    import spark.implicits._
    // keys with duplicates in the weight column so the tie-break
    // column is load-bearing, spread over enough rows to occupy
    // several range partitions
    (1 to 5000).map(i => (s"k${i % 997}_$i", (i % 37).toLong))
      .toDF("tk", "c")
  }

  test("distributedRank equals row_number over the same total order") {
    val df = base
    val win = df.withColumn("rank",
      row_number().over(Window.orderBy(col("c").desc, col("tk")))
        .cast("long"))
    val dist = Ranks.distributedRank(df, Seq(col("c").desc, col("tk")))
    assert(dist.schema("rank").dataType ==
      org.apache.spark.sql.types.LongType)
    val diff = win.join(dist.withColumnRenamed("rank", "drank"),
        Seq("tk", "c"))
      .filter(col("rank") =!= col("drank"))
    assert(diff.count() == 0L)
    assert(dist.count() == 5000L)
  }

  test("distributedPrefixSum inclusive/exclusive equal the window forms") {
    val df = base.groupBy("c").agg(count(lit(1)).as("n"))
    val W = Window.orderBy("c")
    val win = df
      .withColumn("incl", sum("n").over(
        W.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("excl", coalesce(sum("n").over(
        W.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val incl = Ranks.distributedPrefixSums(df, Seq(col("c")),
      Seq(col("n") -> "dincl"), inclusive = true)
    val excl = Ranks.distributedPrefixSums(df, Seq(col("c")),
      Seq(col("n") -> "dexcl"), inclusive = false)
    val joined = win.join(incl, Seq("c", "n")).join(excl, Seq("c", "n"))
    assert(joined.filter(col("incl") =!= col("dincl") ||
      col("excl") =!= col("dexcl")).count() == 0L)
  }

  test("null weights count as zero; empty input yields empty output") {
    import spark.implicits._
    val df = Seq(("a", Some(2L)), ("b", None), ("c", Some(3L)))
      .toDF("k", "w")
    val out = Ranks.distributedPrefixSums(df, Seq(col("k")),
      Seq(col("w") -> "s"), inclusive = true).collect().sortBy(_.getString(0))
    assert(out.map(_.getLong(2)).toSeq == Seq(2L, 2L, 5L))
    val empty = Ranks.distributedRank(df.filter(lit(false)), Seq(col("k")))
    assert(empty.count() == 0L)
  }

  test("guards: existing output column and empty order are rejected") {
    import spark.implicits._
    val df = Seq(("a", 1L)).toDF("k", "rank")
    intercept[IllegalArgumentException] {
      Ranks.distributedRank(df, Seq(col("k")))
    }
    intercept[IllegalArgumentException] {
      Ranks.distributedRank(df, Nil, "r")
    }
  }

  test("no single-partition WindowExec in the distributed-rank plan") {
    val dist = Ranks.distributedRank(base, Seq(col("c").desc, col("tk")))
    val findings = graft.tools.PlanLint.lint(dist)
    assert(!findings.exists(_.rule.startsWith("global-window")),
      findings.mkString(", "))
  }

  /** The frame built at the default budget and under the zero
    * override: same rows, same column types, and a WindowExec only at
    * the default.
    */
  private def bothPaths(build: => org.apache.spark.sql.DataFrame): Unit = {
    def windows(df: org.apache.spark.sql.DataFrame) = {
      df.collect() // materialize so the executed plan is final
      graft.tools.PlanLint.nodes(df.queryExecution.executedPlan).count {
        case _: org.apache.spark.sql.execution.window.WindowExec => true
        case _ => false
      }
    }
    val win = build
    val dist = Ranks.withWindowMaxBytes(0L)(build)
    assert(win.schema.map(_.dataType) == dist.schema.map(_.dataType))
    assert(win.columns.toSeq == dist.columns.toSeq)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    assert(rows(win) == rows(dist))
    assert(windows(win) > 0, "default budget should take the window form")
    assert(windows(dist) == 0, "zero budget should take the two-pass form")
  }

  test("rank: window and two-pass forms agree, LongType on both") {
    bothPaths(Ranks.rank(base, Seq(col("c").desc, col("tk")), "r"))
    assert(Ranks.rank(base, Seq(col("tk")), "r").schema("r").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("prefixSums: inclusive, exclusive, descending and totals agree " +
      "on both paths") {
    val df = base.groupBy("c").agg(count(lit(1)).as("n"),
      sum(col("c") % 3).as("m"))
    bothPaths(Ranks.prefixSums(df, Seq(col("c")),
      Seq(col("n") -> "incl"), inclusive = true))
    bothPaths(Ranks.prefixSums(df, Seq(col("c")),
      Seq(col("n") -> "excl"), inclusive = false))
    bothPaths(Ranks.prefixSums(df, Seq(col("c").desc),
      Seq(col("n") -> "dn", col("m") -> "dm"), inclusive = true))
    bothPaths(Ranks.prefixSums(df, Seq(col("c").desc),
      Seq(col("n") -> "before", col("m") -> "mb"), inclusive = false,
      totalsAs = Seq("nt", "mt")))
  }

  test("no main source decides the global order outside Ranks") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under ${
      java.nio.file.Paths.get("").toAbsolutePath}")
    val ranks = java.nio.file.Paths.get("functions", "Ranks.scala")
    // the one caller outside Ranks: rfmSegments persists its user
    // spine when the two-pass prefixes would each rescan the events
    val spinePersist = "Ranks.autoBig(usersPlan)"
    val hits = {
      val files = java.nio.file.Files.walk(root)
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val lines = java.nio.file.Files.readAllLines(p).asScala
          lines.zipWithIndex.collect {
            case (l, i) if l.contains("bigDomain") || l.contains("bigVocab") ||
                l.contains("SPARK_GRAFT_WINDOW_MAX_BYTES") ||
                (l.contains("Ranks.autoBig(") && !p.endsWith(ranks) &&
                  !(p.endsWith("Events.scala") && l.contains(spinePersist))) =>
              s"$p:${i + 1}: ${l.trim}"
          }
        }.toList
      finally files.close()
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
