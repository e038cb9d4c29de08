package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter for local
    // iteration (the driver always runs the full set)
    val only = args.lift(2).map(_.split(',').toSet)
    val spark = graft.core.GraftSession.forMain()
    new java.io.File(outDir).mkdirs()
    // A query that throws must be LOUD: round 4 shipped a 10-query
    // regression invisibly because failures produced only a stderr
    // line and no output dir, so the driver's report simply omitted
    // them. Record every failure in _FAILURES.json and exit non-zero.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // per-query wall time on stderr: a future regression that is
        // slow-but-correct shows up in the driver's log, not only in
        // the bench subset
        System.err.println(
          f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      }
      finally graft.core.PipelineCaches.unpersistAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_FAILURES.json"), failJson)
    // Repo-root one-liner so the round's correctness signal survives
    // driver capture failures (round-6's CORRECTNESS json arrived empty
    // even though all queries passed): ran/failed counts + failure keys.
    // A filtered run writes it into outDir, so local iteration leaves
    // the committed full-run summary alone.
    val ran = SparkEntry.queries.count { case (name, _) => only.forall(_.contains(name)) }
    val summary = if (only.isDefined) s"$outDir/VERIFY_SUMMARY.json" else "VERIFY_SUMMARY.json"
    try Files.writeString(Paths.get(summary),
      s"""{"ran":$ran,"failed":${failures.size},"failedQueries":[${failures.keys.map(q).mkString(",")}],"sfDir":${q(sfDir)},"outDir":${q(outDir)}}""" + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[verify] $summary write failed: ${e.getMessage}")
    }
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size} quer${if (failures.size == 1) "y" else "ies"} FAILED: " +
          failures.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
