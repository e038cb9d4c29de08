package graft

/** Bench-isolation invariant: after a headline query executes and
  * [[graft.core.PipelineCaches.unpersistAll]] runs (Bench's own
  * [[Bench.runQuery]]), the query must leave NO NEW resident RDD
  * blocks behind. A leftover cache squeezes executor
  * memory for every subsequent query: a resident cache set once
  * inflated a mid-round bench measurement to 59 s (round 2), and the
  * round-5 `q_dedup_minhash` +50% drift raised the same suspicion
  * again. This spec turns the hygiene rule into a gate: any future
  * operator that persists outside PipelineCaches (or forgets its own
  * finally-unpersist) fails here, not in a bench number three rounds
  * later.
  *
  * The check is a per-query DELTA of `sc.getPersistentRDDs`, not
  * global emptiness: the suite shares one SparkSession with every
  * other spec, and earlier suites may leave session-lifetime residents
  * (a spec's own `persist`) that are not this spec's business. In
  * Bench's own JVM the session starts clean, so delta-clean there IS
  * globally clean.
  */
class BenchHygieneSpec extends SparkSpec {

  test("contention flag fires above 2% steal of cpu-seconds, stays " +
      "quiet below (the round-10 capture vs the judge's quiet A/Bs)") {
    // round-10 committed capture: 55,813 steal jiffies over a 260 s
    // x 32-core run = 6.7% — must flag
    assert(Bench.contentionFlag(55813L, 260.4, 32))
    // judge's quiet IsoBench windows: steal_delta 75 over ~10 s x 32
    // and 2 over ~2 s x 32 — must not flag
    assert(!Bench.contentionFlag(75L, 10.0, 32))
    assert(!Bench.contentionFlag(2L, 2.0, 32))
    // boundary: 2% of a 100 s x 32-core run = 64 cpu-s = 6400 jiffies
    assert(!Bench.contentionFlag(6400L, 100.0, 32))
    assert(Bench.contentionFlag(6401L, 100.0, 32))
    // degenerate inputs never flag (missing /proc counters read -1)
    assert(!Bench.contentionFlag(-1L, 100.0, 32))
    assert(!Bench.contentionFlag(100L, 0.0, 32))
  }

  test("retry keeps the lower-steal attempt") {
    val a = Bench.Attempt(Seq("q" -> 1.0), 1.0, 2.0, 100L, 9100L)
    val b = Bench.Attempt(Seq("q" -> 1.2), 2.0, 2.0, 9100L, 9200L)
    assert(Seq(a, b).minBy(_.stealDelta) == b)
    assert(a.stealDelta == 9000L && a.wall == 1.0 && a.failed == 0)
    assert(Bench.Attempt(Seq("q" -> -1.0), 0, 0, 0L, 0L).failed == 1)
  }

  test("no headline bench query leaves a new resident cache after the cache drop") {
    val dir = sf("sf0.001")
    // best-effort baseline cleanup of droppable state
    graft.core.PipelineCaches.unpersistAll()
    spark.sharedState.cacheManager.clearCache()
    val leaks = Bench.headline.filter(SparkEntry.queries.contains).flatMap {
      name =>
        val before = spark.sparkContext.getPersistentRDDs.keySet
        Bench.runQuery(spark, name, dir)
        val after = spark.sparkContext.getPersistentRDDs
        val leaked = after.filterNot { case (id, _) => before.contains(id) }
        if (leaked.nonEmpty) {
          // clean up so one leak doesn't cascade into every later query
          leaked.values.foreach(_.unpersist(blocking = false))
          Some(s"$name: ${leaked.size} new persistent RDDs " +
            leaked.values.map(_.toString).mkString("[", "; ", "]"))
        } else None
    }
    assert(leaks.isEmpty,
      s"resident caches after bench cache-drop:\n  ${leaks.mkString("\n  ")}")
  }
}
