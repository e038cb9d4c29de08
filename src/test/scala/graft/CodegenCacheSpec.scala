package graft

import org.apache.spark.metrics.source.CodegenMetrics

import graft.core.PipelineCaches

/** Repeated queries reuse their generated classes. Every stage's
  * generated Java is compiled once into a JVM-wide class cache; a cache
  * smaller than the working set of a repeated workload evicts classes
  * that the next pass compiles again. These 22 registry queries compile
  * about 540 distinct classes at sf0.001, far over Spark's default
  * 100-entry cache, under which a second pass compiles ~680 classes
  * again; with the cache sized to the working set it compiles none of
  * them.
  */
class CodegenCacheSpec extends SparkSpec {

  // none of these generates new code on every run of the same input,
  // as some registry queries do
  private val queries = Seq(
    "q_typed_sortedtake", "q_window_running_sum", "q_events_funnel",
    "q_text_line_dedup", "q_eval_cronbach", "q_text_token_mi",
    "q_ann_binary", "q_embed_mmr", "q_text_qld", "q_text_rake",
    "q_dedup_winnowing", "q_text_ppl_bucket", "q_eval_err",
    "q_pref_dpo", "q_events_holtwinters", "q_join_inner_agg",
    "q_events_attribution", "q_text_unigram_nll", "q_typed_wordcount",
    "q_join_asof", "q_text_dispersion", "q_eval_conformal")

  private def pass(): Long = {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    queries.foreach { name =>
      SparkEntry.queries(name)(spark, sf()).write.format("noop")
        .mode("overwrite").save()
      PipelineCaches.unpersistAll()
    }
    compiles.getCount - before
  }

  test("a second pass over 22 registry queries recompiles none of its classes") {
    pass()
    val compiled = pass()
    // a cache under the list's ~540-class working set compiles most of
    // it again (678 classes at Spark's default 100 entries). What a
    // cache that holds it still compiles is new code, not recompiles:
    // now and then a query plans differently from its first run, 4
    // classes a variant (up to 16 seen in one pass)
    assert(compiled <= 50,
      s"the second pass compiled $compiled generated classes")
  }
}
