package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Batch plan capture: dump `explain("formatted")` for a list of
  * registered queries into one file per query — the round's
  * `plans/rNN/<query>_{before,after}.txt` evidence — in a single JVM
  * (one sbt launch per query would dominate the wall clock). Usage:
  *   runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,..|all> [sfDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names: Seq[String] =
      if (args(2) == "all") graft.Bench.headline
      else args(2).split(',').toSeq
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val queries = graft.SparkEntry.queries
    names.foreach { name =>
      try {
        val df = queries(name)(spark, dir)
        val s = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), s)
        println(s"[plandump] $name ok (${s.length} chars)")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      } finally graft.core.PipelineCaches.unpersistAll()
    }
    spark.stop()
  }
}
