package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.graft.ListenerBus

import graft.tools.Profile

/** The profile plumbing that `StageAuditSpec` leaves out: a profiled
  * run records jobs, shuffle-reading stages, Catalyst phase times and
  * the final adaptive plan, and the listener is gone once the run
  * returns. Also guards that sessions and noop writes are spelled out
  * in one place each.
  */
class ProfileSpec extends SparkSpec {

  for (name <- Seq("q_agg_groupby", "q_join_broadcast"))
    test(s"$name: jobs, a shuffle-reading stage, phase times and the final plan") {
      val run = Profile.profile(spark, name, sf())
      val p = run.profile
      assert(p.constructionJobs + p.sinkJobs >= 1)
      assert(p.stages.exists(s => s.numTasks > 0 && s.shuffleReadRecords > 0),
        p.stages.mkString("\n"))
      assert(p.executions.nonEmpty)
      assert(Seq("analysis", "optimization", "planning")
        .forall(p.executions.last.tracker.phases.contains))
      val text = Profile.render(name, sf(), 4, run)
      assert(text.contains("AdaptiveSparkPlan"), text)
    }

  test("a profile stops listening when its run returns") {
    val p = Profile.profile(spark, "q_agg_groupby", sf()).profile
    def seen = (p.constructionJobs, p.sinkJobs, p.stages.size, p.executions.size)
    val before = seen
    Bench.runQuery(spark, "q_join_broadcast", sf())
    ListenerBus.drain(spark.sparkContext)
    assert(seen == before)
  }

  test("sessions are built and noop writes spelled out in one place each") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    def hits(needle: String, home: Path): List[String] = {
      val files = Files.walk(root)
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filterNot(_.endsWith(home))
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (l, i) if l.contains(needle) &&
                !l.trim.startsWith("*") && !l.trim.startsWith("//") =>
              s"$p:${i + 1}"
          }
        }.toList
      finally files.close()
    }
    val builders = hits("SparkSession.builder()", Paths.get("core", "GraftSession.scala"))
    assert(builders.isEmpty, builders.mkString("\n"))
    val noops = hits("format(\"noop\")", Paths.get("sources", "Sources.scala"))
    assert(noops.isEmpty, noops.mkString("\n"))
  }
}
