package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Runtime audit for the one-task-collapse failure class: the round-18
  * edit-distance postmortem showed that low-entropy blocking keys plus
  * AQE's byte-based coalescing (blind to join-OUTPUT blow-up) can
  * silently serialize a quadratic stage onto one task — value-correct,
  * invisible to the static PlanLint, and fatal at scale. This tool
  * executes every bench headline query at the given SF and flags any
  * query whose DOMINANT stage (largest summed executor run time) ran
  * on fewer tasks than 25% of the configured cores while carrying the
  * majority (>50%) of the query's total task time and being non-trivial
  * (>1 s of task time) — i.e. the parallelizable heart of the query
  * was not parallel.
  *
  * Run per-round at sf0.1 (AQE coalescing at sf0.001/sf0.01 folds
  * legitimately tiny stages to one task — small SFs are all noise for
  * this check):
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.StageAudit /root/testdata/sf0.1"
  *
  * Exit code 1 iff any query is flagged, so the round checklist can
  * gate on it.
  */
object StageAudit {

  final case class StageStat(stageId: Int, numTasks: Int, runTimeMs: Long,
      shuffleReadRecords: Long, name: String)

  /** Listener collecting per-stage task counts and summed run time. */
  final class Collector extends SparkListener {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageStat]()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      stages.add(StageStat(si.stageId, si.numTasks,
        si.taskMetrics.executorRunTime,
        si.taskMetrics.shuffleReadMetrics.recordsRead, si.name))
    }
    /** Drain everything observed so far (poll until the async listener
      * bus has gone quiet — listener delivery lags job completion). */
    def drain(): Seq[StageStat] = {
      var last = -1
      var size = stages.size()
      while (size != last) { // settle: no new events for 300 ms
        last = size
        Thread.sleep(300)
        size = stages.size()
      }
      val out = Seq.newBuilder[StageStat]
      var s = stages.poll()
      while (s != null) { out += s; s = stages.poll() }
      out.result()
    }
  }

  final case class Flag(query: String, stage: StageStat, shareOfQuery: Double)

  /** The collapse criterion, factored out for spec coverage: the
    * query's DOMINANT stage (largest summed run time) is flagged iff
    * it (a) ran on fewer tasks than cores/4, (b) carried >50% of the
    * query's total task time, (c) burned >5 s of task time (the
    * edit-distance collapse burned MINUTES; AQE legitimately folds
    * tiny sf0.1 shuffles to 1-3 short tasks), and (d) READ FROM A
    * SHUFFLE — a scan stage's task count is bounded by input splits
    * (3 parquet files at sf0.1, thousands at 100 TB), so low scan
    * parallelism on a small SF says nothing about scale.
    */
  def collapsed(stats: Seq[StageStat], cores: Int): Option[(StageStat, Double)] = {
    if (stats.isEmpty) return None
    val total = stats.map(_.runTimeMs).sum.max(1L)
    val dominant = stats.maxBy(_.runTimeMs)
    val share = dominant.runTimeMs.toDouble / total
    val hit = dominant.numTasks < cores / 4 &&
      share > 0.5 && dominant.runTimeMs > 5000L &&
      dominant.shuffleReadRecords > 0L
    if (hit) Some((dominant, share)) else None
  }

  def auditOne(spark: SparkSession, cores: Int,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      dir: String, collector: Collector): Option[(StageStat, Double)] = {
    collector.drain() // discard stages from previous query / warmup
    fn(spark, dir).write.format("noop").mode("overwrite").save()
    collapsed(collector.drain(), cores)
  }

  /** Like [[auditOne]] but also returns the dominant stage whether or
    * not it trips the collapse criterion — the per-round
    * STAGEAUDIT.json artifact records every query so collapse
    * regressions are diffable round-over-round without a re-run.
    */
  def auditOneFull(spark: SparkSession, cores: Int,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      dir: String, collector: Collector)
      : (Option[(StageStat, Double)], Option[(StageStat, Double)]) = {
    collector.drain()
    fn(spark, dir).write.format("noop").mode("overwrite").save()
    val stats = collector.drain()
    val dom =
      if (stats.isEmpty) None
      else {
        val total = stats.map(_.runTimeMs).sum.max(1L)
        val d = stats.maxBy(_.runTimeMs)
        Some((d, d.runTimeMs.toDouble / total))
      }
    (collapsed(stats, cores), dom)
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val collector = new Collector
    spark.sparkContext.addSparkListener(collector)
    val queries = graft.SparkEntry.queries
    // SPARK_GRAFT_BENCH_ONLY may name ANY registered query (not just
    // bench headliners) — the audit is exactly how a non-headline
    // discovery query gets vetted before promotion
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(list) => list.split(',').toSeq.filter(queries.contains)
      case None => graft.Bench.headline.filter(queries.contains)
    }
    val rows = new scala.collection.mutable.ArrayBuffer[String]()
    val flags = names.flatMap { name =>
      val (r, dom) =
        try auditOneFull(spark, cpus, queries(name), dir, collector)
        catch { case e: Throwable =>
          println(s"AUDIT $name: ERROR ${e.getMessage}")
          rows += s""""$name":{"error":true}"""
          (None, None)
        }
        finally graft.core.PipelineCaches.unpersistAll()
      dom.foreach { case (st, share) =>
        val shareStr =
          String.format(java.util.Locale.ROOT, "%.3f", Double.box(share))
        rows += s""""$name":{"dominant_tasks":${st.numTasks},""" +
          s""""run_ms":${st.runTimeMs},"share":$shareStr,""" +
          s""""collapsed":${r.isDefined}}"""
      }
      r match {
        case Some((st, share)) =>
          println(f"AUDIT $name: COLLAPSED dominant stage ${st.stageId} " +
            f"ran ${st.numTasks} task(s) (< ${cpus / 4} = cores/4) " +
            f"carrying ${share * 100}%.0f%% of task time " +
            f"(${st.runTimeMs} ms) — ${st.name.take(80)}")
          Some(Flag(name, st, share))
        case None =>
          println(s"AUDIT $name: ok"); None
      }
    }
    println(s"AUDIT done: ${flags.size} flagged of ${names.size}")
    val json = s"""{"cores":$cpus,"sf_dir":"$dir","flagged":${flags.size},""" +
      s""""queries":{${rows.mkString(",")}}}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("STAGEAUDIT.json"), json + "\n")
    catch { case e: Exception =>
      System.err.println(s"[audit] STAGEAUDIT.json write failed: ${e.getMessage}")
    }
    spark.stop()
    if (flags.nonEmpty) sys.exit(1)
  }
}
