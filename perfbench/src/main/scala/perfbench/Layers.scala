package perfbench

import scala.collection.mutable

/** One op as the harness ran it: wall-clock bounds in epoch ms (the
  * clock Spark's listener events use) and its own nanosecond timing.
  * For a query op `buildEnd` is when `QueryDef.run` returned.
  */
final case class OpRun(id: String, name: String, query: Boolean,
    start: Long, buildEnd: Long, end: Long, wallS: Double,
    error: Option[String])

/** A traced interval; `parent` is the id of the span that caused it. */
final case class Span(id: String, parent: String, kind: String,
    name: String, start: Long, end: Long)

/** Turns a [[Trace]] of one traced pass into spans and per-layer totals.
  *
  * Layers, each named after the module whose code it times:
  *  - `queries`: op wall time outside sink writes (the eager
  *    construction inside `QueryDef.run` / `GraftJob.run`) and the Spark
  *    jobs started there;
  *  - `shim`: Catalyst phases of the sink QueryExecutions, which run the
  *    `graft.shim` rules;
  *  - `core`: jobs, stages and tasks the scheduler ran, and op time with
  *    no job running;
  *  - `exec`: task time, task CPU and GC;
  *  - `exchange`: shuffle bytes, fetch wait, spill and peak memory;
  *  - `sources`: bytes and records read and written by tasks;
  *  - `cache`: cached-block puts, and blocks still resident after the
  *    pass released its caches.
  */
object Layers {

  /** Milliseconds of [lo, hi] covered by the union of `iv`. */
  def covered(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total, curA, curB = 0L
    var open = false
    c.foreach { case (a, b) =>
      if (!open || a > curB) {
        if (open) total += curB - curA
        curA = a; curB = b; open = true
      } else curB = math.max(curB, b)
    }
    if (open) total += curB - curA
    total
  }

  /** One traced pass: per-layer totals, its spans, and per op the
    * figures that show where the op's time goes (wall, construction,
    * jobs, time with no job running, task CPU, shuffle and cache puts).
    */
  final case class Summary(layers: Map[String, Double], spans: Seq[Span],
      ops: Map[String, Map[String, Double]])

  def summarize(t: Trace, ops: Seq[OpRun], wallS: Double, cores: Int,
      residentAfter: Long, filesWritten: Long): Summary =
    t.synchronized {
      val m = mutable.LinkedHashMap.empty[String, Double]
      val perOp = mutable.LinkedHashMap.empty[String, Map[String, Double]]
      var before = Map.empty[String, Double]
      def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
      def moved(k: String) = m.getOrElse(k, 0.0) - before.getOrElse(k, 0.0)
      val spans = mutable.ArrayBuffer.empty[Span]
      val writeQes = t.qes.filter(_._2.write).toMap
      val putsByJob = t.puts.groupBy(_._1)
      val stagesByJob = t.stages.values.filter(_.completed).groupBy(_.job)
      var peakMem = 0L

      ops.foreach { o =>
        before = m.toMap
        val jobs = t.jobs.values.filter(_.group == o.id).toSeq
        val execs = t.execs.values.filter(_.group == o.id).toSeq
        val sinks = execs.filter(e => writeQes.contains(e.id))
        val sinkIds = sinks.map(_.id).toSet
        def sinkOf(j: Trace.Job): Option[Long] = j.execId.flatMap { id =>
          val root = t.execs.get(id).map(_.root).getOrElse(id)
          Seq(id, root).find(sinkIds)
        }
        val opWall = o.end - o.start
        val sinkMs = covered(sinks.map(e => (e.start, e.end)), o.start, o.end)
        val buildJobs = jobs.filter(sinkOf(_).isEmpty)

        add("queries.build_s", (opWall - sinkMs) / 1e3)
        add("queries.build_jobs", buildJobs.size)
        sinks.flatMap(e => writeQes.get(e.id)).foreach { q =>
          add("shim.analysis_ms", q.analysisMs)
          add("shim.optimizer_ms", q.optimizerMs)
          add("shim.planning_ms", q.planningMs)
        }
        add("core.jobs", jobs.size)
        add("core.driver_idle_s",
          (opWall - covered(jobs.map(j => (j.start, j.end)), o.start, o.end)) / 1e3)

        spans += Span(o.id, "", "op", o.name, o.start, o.end)
        if (o.query) spans += Span(s"${o.id}.build", o.id, "build", o.name, o.start, o.buildEnd)
        sinks.foreach(e => spans += Span(s"${o.id}.sink${e.id}", o.id, "sink", o.name, e.start, e.end))
        jobs.foreach { j =>
          val parent = sinkOf(j).map(id => s"${o.id}.sink$id")
            .getOrElse(if (o.query) s"${o.id}.build" else o.id)
          spans += Span(s"j${j.id}", parent, "job", o.name, j.start, j.end)
          stagesByJob.getOrElse(j.id, Nil).foreach { s =>
            spans += Span(s"s${s.id}.${s.attempt}", s"j${j.id}", "stage", o.name, s.start, s.end)
            add("core.stages", 1)
            add("core.tasks", s.tasks)
            add("exec.task_s", s.runMs / 1e3)
            add("exec.task_cpu_s", s.cpuNs / 1e9)
            add("exec.gc_s", s.gcMs / 1e3)
            add("exchange.write_mb", s.shuffleWrite / 1e6)
            add("exchange.read_mb", s.shuffleRead / 1e6)
            add("exchange.fetch_wait_s", s.fetchWaitMs / 1e3)
            add("exchange.spill_mb", s.spill / 1e6)
            add("sources.read_mb", s.inBytes / 1e6)
            add("sources.read_records", s.inRecords)
            add("sources.write_mb", s.outBytes / 1e6)
            peakMem = math.max(peakMem, s.peakMem)
          }
          putsByJob.getOrElse(j.id, Nil).foreach { case (_, b) =>
            add("cache.blocks_put", 1)
            add("cache.put_mb", b / 1e6)
          }
        }
        perOp(o.name) = Map("wall_s" -> opWall / 1e3) ++ Seq("queries.build_s",
          "core.jobs", "core.driver_idle_s", "exec.task_cpu_s",
          "exchange.write_mb", "cache.blocks_put").map(k => k -> moved(k))
      }

      // self time: a span's duration minus what its children cover
      val children = spans.groupBy(_.parent)
      spans.foreach { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        add(s"self.${s.kind}_s", (s.end - s.start - covered(kids, s.start, s.end)) / 1e3)
      }
      Seq("queries.build_s", "queries.build_jobs", "shim.analysis_ms",
        "shim.optimizer_ms", "shim.planning_ms", "core.jobs", "core.stages",
        "core.tasks", "core.driver_idle_s", "exec.task_s", "exec.task_cpu_s",
        "exec.gc_s", "exchange.write_mb", "exchange.read_mb",
        "exchange.fetch_wait_s", "exchange.spill_mb", "sources.read_mb",
        "sources.read_records", "sources.write_mb", "cache.blocks_put",
        "cache.put_mb", "self.op_s", "self.build_s", "self.sink_s",
        "self.job_s", "self.stage_s").foreach(k => m.getOrElseUpdate(k, 0.0))
      m("core.util") = m("exec.task_cpu_s") / (wallS * cores)
      m("exchange.peak_mem_mb") = peakMem / 1e6
      m("sources.files_written") = filesWritten.toDouble
      m("cache.resident_after") = residentAfter.toDouble
      Summary(m.toMap, spans.toSeq, perOp.toMap)
    }
}
