package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** One operation of a workload: a registered query run into a sink, or
  * an example job run through `Tool.run` with real parquet outputs.
  */
sealed trait Op { def name: String }

/** `SparkEntry.queries(name)(spark, dir)`, then a sink write. */
final case class QueryOp(name: String) extends Op

/** `Tool.run(jobClass, --input <dir>/<input> --output <out> args...)`. */
final case class JobOp(name: String, jobClass: String, input: String,
    args: Seq[String]) extends Op

/** Reads a workload's op list from `perfbench/workloads.json`: a string
  * names a query, an object an example job.
  */
object Workloads {
  def load(file: String, workload: String): Seq[Op] = {
    val w = new ObjectMapper().readTree(new File(file)).path("workloads").path(workload)
    require(!w.isMissingNode, s"unknown workload $workload")
    w.path("ops").elements().asScala.map { n =>
      if (n.isTextual) QueryOp(n.asText)
      else JobOp(n.get("name").asText, n.get("job").asText,
        n.get("input").asText, n.path("args").elements().asScala.map(_.asText).toSeq)
    }.toSeq
  }
}
