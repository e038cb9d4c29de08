package graft

import org.apache.spark.sql.functions._
import graft.examples.CorpusPrepJob

/** End-to-end corpus-prep pipeline over the synthetic documents table:
  * annotate → filter → exact dedup → near-dup cluster drop →
  * deterministic split.
  */
class CorpusPrepSpec extends SparkSpec {

  test("corpus prep filters, dedups to canonical members, and splits deterministically") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text", "lang")
    // plant one exact copy and one near copy of an English doc
    val en = docs.filter(col("lang") === "en").limit(1)
      .select(col("doc_id"), col("text"), col("lang"))
    val exactCopy = en.select((col("doc_id") + 1000000L).as("doc_id"),
      col("text"), col("lang"))
    val nearCopy = en.select((col("doc_id") + 2000000L).as("doc_id"),
      concat(col("text"), lit(" tail")).as("text"), col("lang"))
    val input = docs.unionByName(exactCopy).unionByName(nearCopy)

    val out = CorpusPrepJob.prepare(input, lang = "en",
      minQuality = 0.3, jaccard = 0.7, holdout = 0.2).cache()

    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val baseId = en.head().getLong(0)
    // the planted copies must be gone, the original kept
    assert(ids.contains(baseId), "canonical doc dropped")
    assert(!ids.contains(baseId + 1000000L), "exact copy survived")
    assert(!ids.contains(baseId + 2000000L), "near copy survived")
    // all rows are the requested language and above the floor
    val bad = out.filter(col("quality") < 0.3).count()
    assert(bad == 0)
    // split is deterministic: re-running yields identical membership
    val out2 = CorpusPrepJob.prepare(input, lang = "en",
      minQuality = 0.3, jaccard = 0.7, holdout = 0.2)
    val s1 = out.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val s2 = out2.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s1 == s2)
    // both splits non-degenerate at 20% holdout
    val n = s1.size.toDouble
    val h = s1.values.count(_ == "holdout").toDouble
    assert(h > 0 && h / n < 0.5, s"holdout fraction ${h / n}")
    out.unpersist()
    graft.core.PipelineCaches.unpersistAll()
  }

  test("groupSplit accepts holdout = 0 like the per-doc path: everything lands in train") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text", "lang").limit(50)
    val out = CorpusPrepJob.prepare(docs, lang = "en",
      minQuality = 0.0, jaccard = 0.7, holdout = 0.0,
      keepBestRep = true, groupSplit = true)
    val splits = out.select("split").distinct()
      .collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train")), s"unexpected splits: $splits")
    assert(out.count() > 0)
    graft.core.PipelineCaches.unpersistAll()
  }
}
