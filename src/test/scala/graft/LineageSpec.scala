package graft

import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Lineage
import scala.jdk.CollectionConverters._

import graft.core.PipelineCaches
import graft.graph.Graphs

/** The one lineage cut and the one loop driver: a cut keeps the
  * source's statistics, every cut and every `forceToDisk` barrier is
  * freed by the pipeline cache drop, a loop holds one iterate and one
  * round of RDD lineage whatever its round count, and no main source
  * cuts lineage any other way.
  */
class LineageSpec extends SparkSpec {

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** RDDs and shuffle dependencies reachable from a frame's scans. */
  private def lineageOf(df: DataFrame): (Int, Int) = {
    val seen = scala.collection.mutable.Set.empty[Int]
    var shuffles = 0
    def walk(r: RDD[_]): Unit = if (seen.add(r.id)) r.dependencies.foreach { d =>
      if (d.isInstanceOf[ShuffleDependency[_, _, _]]) shuffles += 1
      walk(d.rdd)
    }
    df.queryExecution.analyzed.collectLeaves().foreach {
      case r: LogicalRDD => walk(r.rdd)
      case _ =>
    }
    (seen.size, shuffles)
  }

  test("a cut keeps the source's optimized size estimate") {
    import spark.implicits._
    val src = (1 to 500).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
      .filter(col("k") % 3 =!= 0)
    val want = src.queryExecution.optimizedPlan.stats.sizeInBytes
    val c = Lineage.cut(src)
    val got = c.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(want < BigInt(Long.MaxValue))
    assert(got == want)
    assert(rowsOf(c) == rowsOf(src))
    assert(Lineage.cut(c) eq c, "cutting a resident cut is a no-op")
    PipelineCaches.unpersistAll()
  }

  test("the cache drop frees a cut; a kernel result re-runs to the same rows") {
    import spark.implicits._
    PipelineCaches.unpersistAll()
    val before = persistentIds
    val c = Lineage.cut(spark.range(100).toDF("id"))
    assert((persistentIds -- before).nonEmpty)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 6L))
      .toDF("src", "dst")
    val lp = Graphs.labelPropagation(edges)
    val first = rowsOf(lp)
    PipelineCaches.unpersistAll()
    assert((persistentIds -- before).isEmpty)
    assert(c.count() == 100L)
    assert(rowsOf(lp) == first)
  }

  test("every iterative kernel leaves no resident RDD after the cache drop") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (4L, 6L), (5L, 6L), (6L, 7L), (8L, 9L)).toDF("src", "dst")
    val nodes = Seq(1L, 8L).toDF("node")
    val pairs = edges.select(col("src").as("id1"), col("dst").as("id2"))
    val seeds = Seq((1L, 1.0)).toDF("node", "weight")
    val scored = (1 to 40).map(i => (i / 40.0, if (i % 3 == 0) 0 else 1))
      .toDF("s", "y")
    val matches = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "a"))
      .toDF("w", "l")
    val docs = Seq((1L, "graph lineage cut graph loop lineage"),
      (2L, "loop driver cut lineage graph")).toDF("id", "text")
    val coo = Seq((0L, 0L, 1.0), (0L, 1L, 2.0), (1L, 1L, 3.0))
      .toDF("r", "c", "v")
    val events = (0 until 30).map(i => (s"u${i % 7}", i * 43200L))
      .toDF("user", "sec")
    val kernels: Seq[(String, () => Any)] = Seq(
      "kCore" -> (() => Graphs.kCore(edges, 2)),
      "coreNumbers" -> (() => Graphs.coreNumbers(edges)),
      "personalizedPageRank" ->
        (() => Graphs.personalizedPageRank(edges, seeds, iters = 3)),
      "labelPropagation" -> (() => Graphs.labelPropagation(edges)),
      "kTruss" -> (() => Graphs.kTruss(edges, 3)),
      "hits" -> (() => Graphs.hits(edges, iters = 3)),
      "shortestHops" -> (() => Graphs.shortestHops(edges, nodes)),
      "landmarkDistances" -> (() => Graphs.landmarkDistances(edges, nodes)),
      "connectedComponents" -> (() => graft.ml.Dedup.connectedComponents(pairs)),
      "connectedComponentsStar" ->
        (() => graft.ml.Dedup.connectedComponentsStar(pairs)),
      "plattScale" ->
        (() => graft.ml.Calibrate.plattScale(scored, "s", "y", iters = 3)),
      "bradleyTerry" ->
        (() => graft.ml.Preference.bradleyTerry(matches, "w", "l", iters = 3)),
      "topSingularVector" ->
        (() => graft.matrix.Matrix.fromCoo(coo, "r", "c", "v")
          .topSingularVector(3)._1),
      "textRank" -> (() => graft.ml.Keywords.textRank(docs, "id", "text",
        iters = 3)),
      "activeUsers" -> (() => graft.events.Events.activeUsers(events, "user",
        "sec", windows = Seq(2))),
      "bpe distributed" -> (() => graft.ml.Bpe.trainFromCounts(spark,
        graft.ml.Bpe.wordCounts(docs.select("text").as[String]), 5,
        localVocabThreshold = 0L)),
      "FieldsApi.forceToDisk" -> (() => new graft.dsl.FieldsApi.RichDataFrame(
        edges.filter(col("src") =!= 8L)).forceToDisk),
      "TypedPipe.forceToDisk" -> (() => graft.typed.TypedPipe
        .from(edges.as[(Long, Long)]).map { case (s, d) => (d, s) }
        .forceToDisk.ds))
    PipelineCaches.unpersistAll()
    val leaks = kernels.flatMap { case (name, run) =>
      val before = persistentIds
      val result = run()
      val rows = result match {
        case ds: Dataset[_] => rowsOf(ds.toDF())
        case other => Seq(other.toString)
      }
      PipelineCaches.unpersistAll()
      val left = persistentIds -- before
      // the held result still re-runs to the same rows after the drop
      result match {
        case ds: Dataset[_] => assert(rowsOf(ds.toDF()) == rows, name)
        case _ =>
      }
      if (left.isEmpty) None else Some(s"$name: ${left.size}")
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
  }

  test("a loop holds one iterate and one round of lineage whatever its round count") {
    import spark.implicits._
    val path = (1L until 30L).map(i => (i, i + 1)).toDF("src", "dst")
    val source = Seq(1L).toDF("node")
    def resident(maxHops: Int): (Int, (Int, Int), Long) = {
      PipelineCaches.unpersistAll()
      val before = persistentIds
      val dist = Graphs.shortestHops(path, source, maxHops = maxHops)
      val far = dist.agg(max("dist")).head().getLong(0)
      val n = (persistentIds -- before).size
      val lineage = lineageOf(dist)
      PipelineCaches.unpersistAll()
      (n, lineage, far)
    }
    val (short, shortLineage, shortFar) = resident(3)
    val (long, longLineage, longFar) = resident(30)
    assert(shortFar == 3L && longFar == 29L)
    assert(long == short, s"30-hop run holds $long RDDs, 3-hop run $short")
    // (RDDs, shuffle dependencies) reachable from the result: a cut
    // that kept its RDD lineage would reach every round's shuffles
    assert(longLineage == shortLineage,
      s"30-hop result reaches $longLineage, 3-hop result $shortLineage")
  }

  test("a narrow loop of many rounds keeps one round of RDD lineage") {
    val out = Lineage.iterate(spark.range(0, 8, 1, 2).toDF("id"), 150)(
      _.select((col("id") + 1).as("id")))((_, _) => false)
    assert(lineageOf(out) == ((1, 0)))
    assert(out.agg(sum("id")).head().getLong(0) == (0L until 8L).map(_ + 150L).sum)
    PipelineCaches.unpersistAll()
    assert(out.agg(sum("id")).head().getLong(0) == (0L until 8L).map(_ + 150L).sum)
  }

  test("no main source cuts lineage outside Lineage") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under ${
      java.nio.file.Paths.get("").toAbsolutePath}")
    val hits = {
      val files = java.nio.file.Files.walk(root)
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filterNot(_.endsWith(java.nio.file.Paths.get("shim", "Lineage.scala")))
        .flatMap { p =>
          val lines = java.nio.file.Files.readAllLines(p).asScala
          lines.zipWithIndex.collect {
            case (l, i) if l.contains(".localCheckpoint(") => s"$p:${i + 1}"
          }
        }.toList
      finally files.close()
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
