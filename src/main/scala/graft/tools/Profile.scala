package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.metric.SQLMetric

import graft.{Bench, SparkEntry}
import graft.core.{GraftSession, QueryProfile}

/** Per-query profile: warm each query up, run it once into the noop
  * sink under a [[QueryProfile]] and print its layered record, which
  * `outDir` also gets as `<query>.txt`. `all` profiles the bench
  * headline list and writes STAGEAUDIT.json. Exits 1 iff a query
  * collapsed ([[StageAudit]]). Usage:
  *   runMain graft.tools.Profile <q1,q2,..|all> [sfDir] [outDir]
  */
object Profile {

  final case class Run(profile: QueryProfile, buildS: Double, sinkS: Double)

  def main(args: Array[String]): Unit = {
    val all = args(0) == "all"
    val names = if (all) Bench.headline.filter(SparkEntry.queries.contains)
      else args(0).split(',').toSeq
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cores = GraftSession.mainCores
    val spark = GraftSession.forMain()
    args.lift(2).foreach(out => Files.createDirectories(Paths.get(out)))
    val stages = names.map { name =>
      name -> (try {
        val run = profile(spark, name, dir)
        val text = render(name, dir, cores, run)
        println(text)
        args.lift(2).foreach(out => Files.writeString(Paths.get(out, s"$name.txt"), text + "\n"))
        Some(run.profile.stages)
      } catch { case e: Throwable => println(s"== $name: ERROR ${e.getMessage}"); None })
    }
    val flagged = stages.count(_._2.exists(StageAudit.collapsed(_, cores).isDefined))
    println(s"PROFILE done: $flagged collapsed of ${names.size}")
    if (all) { // every dominant stage, diffable round-over-round without a re-run
      val rows = stages.flatMap {
        case (name, None) => Some(s""""$name":{"error":true}""")
        case (name, Some(st)) => StageAudit.dominant(st).map { case (d, share) =>
          s""""$name":{"dominant_tasks":${d.numTasks},"run_ms":${d.runTimeMs},"share":""" +
            String.format(java.util.Locale.ROOT, "%.3f", Double.box(share)) +
            s""","collapsed":${StageAudit.collapsed(st, cores).isDefined}}"""
        }
      }
      Files.writeString(Paths.get("STAGEAUDIT.json"), s"""{"cores":$cores,"sf_dir":"$dir",""" +
        s""""flagged":$flagged,"queries":{${rows.mkString(",")}}}""" + "\n")
    }
    spark.stop()
    if (flagged > 0) sys.exit(1)
  }

  def profile(spark: SparkSession, name: String, dir: String): Run = {
    Bench.warmUp(spark, name)
    val (p, (build, sink)) =
      QueryProfile.record(spark)(p => Bench.runQuery(spark, name, dir, () => p.sinkStarts()))
    Run(p, build, sink)
  }

  /** The layered record; the plan shows its non-zero SQL metrics. */
  def render(name: String, dir: String, cores: Int, run: Run): String = {
    val (p, st) = (run.profile, run.profile.stages)
    def sum(f: QueryProfile.StageStat => Long) = st.map(f).sum
    def mb(f: QueryProfile.StageStat => Long) = f"${sum(f) / 1048576.0}%.1f MB"
    val phases = Seq("analysis", "optimization", "planning").map { k =>
      s"$k ${p.executions.flatMap(_.tracker.phases.get(k)).map(_.durationMs).sum} ms"
    }
    val dominant = StageAudit.dominant(st).fold("none") { case (d, share) =>
      val verdict = if (StageAudit.collapsed(st, cores).isEmpty) "ok" else "COLLAPSED"
      f"stage ${d.stageId}: ${d.numTasks} tasks, ${d.runTimeMs} ms, ${share * 100}%.0f%% " +
        s"of task time, $verdict (${d.name.take(80)})"
    }
    (Seq(s"== $name on $dir ($cores cores) ==",
      f"construction  ${run.buildS}%.3f s, ${p.constructionJobs} jobs",
      f"sink          ${run.sinkS}%.3f s, ${p.sinkJobs} jobs",
      s"catalyst      ${phases.mkString(", ")} (${p.executions.size} executions)",
      s"scheduling    ${p.constructionJobs + p.sinkJobs} jobs, ${st.size} stages, ${sum(_.numTasks)} tasks",
      f"tasks         run ${sum(_.runTimeMs) / 1e3}%.3f s, cpu ${sum(_.cpuMs) / 1e3}%.3f s",
      s"shuffle       read ${mb(_.shuffleReadBytes)} (${sum(_.shuffleReadRecords)} records), write " +
        s"${mb(_.shuffleWriteBytes)} (${sum(_.shuffleWriteRecords)} records), spill ${mb(_.spillBytes)}",
      s"dominant      $dominant",
      "final plan") ++ p.executions.lastOption.toSeq.flatMap(qe => walk(qe.executedPlan, 1)))
      .mkString("\n")
  }

  private def walk(p: SparkPlan, depth: Int): Seq[String] = {
    val ms = p.metrics.toSeq.filter(_._2.value > 0).sortBy(-_._2.value)
      .map { case (k, m) => s"$k=${human(m)}" }.mkString(", ")
    val children = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    ("  " * depth + s"${p.nodeName}  [$ms]") +: children.flatMap(walk(_, depth + 1))
  }

  private def human(m: SQLMetric): String = m.metricType match {
    case "size" => f"${m.value / 1048576.0}%.1fMB"
    case "timing" => s"${m.value}ms"
    case "nsTiming" => s"${m.value / 1000000}ms"
    case "average" => f"${m.value / 10.0}%.1f" // Spark stores averages x10
    case _ => m.value.toString
  }
}
