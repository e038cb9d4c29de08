package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Text rendition of the Spark UI SQL-tab: run a query once (noop
  * sink), then walk the FINAL adaptive physical plan printing every
  * node with its accumulated SQLMetric values (rows, time, shuffle
  * bytes, spill…). The measurement backbone for guide §1 ("decide
  * whether the time is going to shuffle read, compute, …") on a box
  * with spark.ui.enabled=false. The executed plan is captured with a
  * QueryExecutionListener because the noop write runs its own
  * QueryExecution, not the DataFrame's. Usage:
  *   runMain graft.tools.MetricsDump <query>[,<query>..] [sfDir]
  */
object MetricsDump {

  @volatile private var lastQe: QueryExecution = _

  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = { lastQe = qe }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })
    val queries = graft.SparkEntry.queries
    names.foreach { name =>
      // warmup at sf0.001 so JIT/codegen doesn't pollute the metrics run
      try queries(name)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
      finally graft.core.PipelineCaches.unpersistAll()
      val df = queries(name)(spark, dir)
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      // the listener fires asynchronously; give it a beat
      Thread.sleep(500)
      println(f"== $name: $dt%.2f s ==")
      if (lastQe != null) walk(lastQe.executedPlan, 0)
      graft.core.PipelineCaches.unpersistAll()
    }
    spark.stop()
  }

  private def walk(p: SparkPlan, depth: Int): Unit = {
    val ms = p.metrics.toSeq
      .map { case (k, m) => (k, m.value) }
      .filter(_._2 > 0)
      .sortBy(-_._2)
      .map { case (k, v) => s"$k=${human(k, v)}" }
      .mkString(", ")
    println("  " * depth + s"${p.nodeName}  [$ms]")
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        walk(q.plan, depth + 1)
      case other => other.children.foreach(walk(_, depth + 1))
    }
  }

  private def human(k: String, v: Long): String =
    if (k.contains("Bytes") || k.contains("size") || k.contains("Size"))
      f"${v / 1024.0 / 1024.0}%.1fMB"
    else if (k.contains("time") || k.contains("Time") ||
      k.contains("duration"))
      s"${v}ms"
    else v.toString
}
