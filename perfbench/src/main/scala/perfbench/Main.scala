package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.core.{Args, GraftSession, PipelineCaches, Tool}

/** The benchmark's driver process: one SparkSession at local[cores],
  * one client thread running a workload's ops back to back (a closed
  * loop, one op in flight).
  *
  *   perfbench.Main --workloads <workloads.json> --workload <name>
  *     --data <dir> --out <dir> --seconds <s> --trace <0|1> --cores <n>
  *
  * Sequence: the session set-up (timed from JVM start), two untimed
  * warm-up passes (the first writes each query's result as parquet for
  * the correctness check), then timed passes into the noop sink until
  * `seconds` have elapsed, two at least. With `--trace 1` half the
  * timed passes run with [[Trace]] registered, so the traced and
  * untraced medians give the tracing overhead.
  * `--seconds 0` only sets up (a set-up sample from a fresh JVM).
  * Writes `<out>/result.json` and, when traced, `<out>/trace.json`.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.toSeq)
    val workload = a("workload")
    val data = a("data")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val ops = Workloads.load(a("workloads"), workload)
    new File(out).mkdirs()

    val (spark, setupS) = setUp(data, cores)
    val sc = spark.sparkContext
    val result = new StringBuilder
    val passes = Seq.newBuilder[String]
    var jobDirs = Map.empty[String, String]

    def runPass(tag: String, sink: Option[String], trace: Option[Trace]): PassRun = {
      val p = pass(spark, ops, tag, data, sink, s"$out/$tag", trace)
      passes += p.json(if (trace.isDefined) "traced" else tag.takeWhile(_.isLetter))
      p
    }

    /** Timed passes until `seconds` have elapsed (two at least). When
      * traced, in blocks of untraced, traced, traced, untraced passes, so
      * the JIT's continuing warm-up weighs both sides alike in the
      * overhead. Job outputs of the last pass are kept for the
      * correctness check.
      */
    def timed(seconds: Double, traced: Boolean): Unit = {
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var i = 0
      var last: Option[String] = None
      def one(trace: Option[Trace]): PassRun = {
        val tag = s"timed$i"
        last.foreach(d => deleteTree(new File(d)))
        val p = runPass(tag, None, trace)
        last = Some(s"$out/$tag")
        jobDirs = ops.collect { case j: JobOp => j.name -> s"$out/$tag/${j.name}" }.toMap
        i += 1
        p
      }
      if (!traced) {
        var n = 0
        while (n < 2 || elapsed < seconds) { one(None); n += 1 }
      } else {
        val tr = new Trace
        val plain, withTrace = Seq.newBuilder[PassRun]
        do {
          plain += one(None)
          spark.listenerManager.register(tr) // first: see Trace.record
          sc.addSparkListener(tr)
          val runs = Seq(one(Some(tr)), one(Some(tr)))
          runs.foreach(r => r.ops.foreach(o => tr.awaitDrained(sc, o.id)))
          sc.removeSparkListener(tr)
          spark.listenerManager.unregister(tr)
          withTrace ++= runs
          plain += one(None)
        } while (elapsed < seconds)
        val runs = withTrace.result()
        val summaries = runs.map { r =>
          Layers.summarize(tr, r.ops, r.wallS, cores, r.residentAfter, r.filesWritten)
        }
        val overhead = median(runs.map(_.wallS)) - median(plain.result().map(_.wallS))
        Files.writeString(Paths.get(s"$out/trace.json"),
          summaries.flatMap(_.spans).map(spanJson).mkString("[\n", ",\n", "\n]\n"))
        def nums(m: Map[String, Double]) =
          obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
        val profile = ops.map { op =>
          val perPass = summaries.map(_.ops(op.name))
          op.name -> nums(perPass.head.keys.map(k => k -> median(perPass.map(_(k)))).toMap)
        }
        result ++= s""""layers":${summaries.map(l => nums(l.layers)).mkString("[", ",", "]")},"""
        result ++= s""""op_profile":${obj(profile)},"""
        result ++= s""""trace_overhead_s":${num(overhead)},"""
      }
    }

    if (seconds > 0) {
      // untimed warm-up passes at the timed scale, the first writing the
      // query results the correctness check reads: for the first few
      // passes after JVM start each runs 10-25% faster than the one
      // before it, while the JIT compiles the hot paths
      runPass("warm", Some(s"$out/correct"), None)
      deleteTree(new File(s"$out/warm"))
      runPass("warm2", None, None)
      deleteTree(new File(s"$out/warm2"))
      timed(seconds, traced)
    }
    val oracle = graft.SparkEntry.oracleSql
    val queryOps = ops.collect { case q: QueryOp => q.name }
    result ++= s""""oracle":${obj(queryOps.flatMap(n => oracle.get(n).map(n -> str(_))))},"""
    result ++= s""""job_dirs":${obj(jobDirs.toSeq.map { case (k, v) => k -> str(v) })},"""
    result ++= s""""setup_s":${num(setupS)},"""
    result ++= s""""passes":${passes.result().mkString("[", ",", "]")}"""
    spark.stop()
    Files.writeString(Paths.get(s"$out/result.json"), s"{${result.result()}}\n")
  }

  /** Builds the session and returns it with the seconds from JVM start
    * to the end of a first query over the inputs.
    */
  private def setUp(data: String, cores: Int): (SparkSession, Double) = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]"), cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$data/lineitem.parquet").groupBy("l_returnflag")
      .count().write.format("noop").mode("overwrite").save()
    (spark, (System.currentTimeMillis() - jvmStart) / 1e3)
  }

  final case class PassRun(wallS: Double, cpuS: Double,
      ops: Seq[OpRun], residentAfter: Long, filesWritten: Long) {
    def json(kind: String): String = obj(Seq(
      "kind" -> str(kind), "wall_s" -> num(wallS), "cpu_s" -> num(cpuS),
      "resident_after" -> residentAfter.toString,
      "files_written" -> filesWritten.toString,
      "ops" -> ops.map(o => obj(Seq("name" -> str(o.name),
        "wall_s" -> num(o.wallS),
        "error" -> o.error.map(str).getOrElse("null")))).mkString("[", ",", "]")))
  }

  /** One pass over `ops`. Query results go to the noop sink, or to
    * `<sink>/<name>` as parquet; jobs write under `jobOut`. Caches the
    * pipeline registered are released after every op.
    */
  private def pass(spark: SparkSession, ops: Seq[Op], tag: String,
      data: String, sink: Option[String], jobOut: String,
      trace: Option[Trace]): PassRun = {
    val sc = spark.sparkContext
    val cpu0 = cpuSeconds()
    val t0 = System.nanoTime()
    val runs = ops.zipWithIndex.map { case (op, idx) =>
      val id = s"$tag.$idx"
      sc.setJobGroup(id, op.name, interruptOnCancel = false)
      val start = System.currentTimeMillis()
      val n0 = System.nanoTime()
      var buildEnd = start
      val error = try {
        op match {
          case QueryOp(name) =>
            val df = graft.SparkEntry.queries(name)(spark, data)
            buildEnd = System.currentTimeMillis()
            sink match {
              case None => df.write.format("noop").mode("overwrite").save()
              case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/$name")
            }
          case JobOp(name, cls, input, args) =>
            Tool.run(cls, Args(Seq("--input", s"$data/$input",
              "--output", s"$jobOut/$name") ++ args), spark)
        }
        None
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] ${op.name} failed: $e")
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      } finally {
        sc.clearJobGroup()
        PipelineCaches.unpersistAll()
      }
      val wallS = (System.nanoTime() - n0) / 1e9
      System.err.println(f"[perfbench] $id ${op.name} $wallS%.3f s")
      OpRun(id, op.name, op.isInstanceOf[QueryOp], start, buildEnd,
        System.currentTimeMillis(), wallS, error)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = cpuSeconds() - cpu0
    val (resident, files) =
      if (trace.isEmpty) (0L, 0L) else (residentBlocks(spark), countFiles(new File(jobOut)))
    PassRun(wall, cpu, runs, resident, files)
  }

  /** Cached RDD partitions still held once the released caches have had
    * up to two seconds to go (unpersist is asynchronous).
    */
  private def residentBlocks(spark: SparkSession): Long = {
    def count = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
    val deadline = System.nanoTime() + 2_000_000_000L
    var n = count
    while (n > 0 && System.nanoTime() < deadline) { Thread.sleep(20); n = count }
    n
  }

  private def countFiles(dir: File): Long =
    if (!dir.exists) 0L
    else if (dir.isFile) (if (dir.getName.endsWith(".parquet")) 1L else 0L)
    else dir.listFiles().map(countFiles).sum

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteTree)
    f.delete()
  }

  /** User + system CPU seconds of this JVM, from /proc/self/stat. */
  private def cpuSeconds(): Double = {
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
    (f(11).toLong + f(12).toLong) / 100.0
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def spanJson(s: Span): String = obj(Seq("id" -> str(s.id),
    "parent" -> str(s.parent), "kind" -> str(s.kind), "op" -> str(s.name),
    "start_ms" -> s.start.toString, "end_ms" -> s.end.toString))

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
