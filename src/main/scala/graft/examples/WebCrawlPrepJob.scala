package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Args, GraftJob, GraftSession}
import graft.ml.{Corpus, TextAnalysis, Web}

/** End-to-end RAW-CRAWL preparation — the stage BEFORE
  * [[CorpusPrepJob]] when the input is (id, url, html) straight off a
  * fetcher, composed from the web-preprocessing kernels:
  *
  *  1. URL parse + canonicalize + registered domain (unparseable URLs
  *     drop — they can't be deduplicated or capped);
  *  2. URL-exact dedup on the CANONICAL form (fragment and
  *     query-order variants collapse; first id wins deterministically);
  *  3. HTML → text extraction with markup stats in the same pass;
  *     link-farm shells drop on the text-to-markup ratio floor;
  *  4. compression-ratio junk filter: near-zero ratios are generated
  *     boilerplate, ratios ≥ 1 are binary/encrypted payloads mislabeled
  *     as HTML — both drop;
  *  5. language ID + quality scoring on the EXTRACTED text (single
  *     scan, both Column expressions);
  *  6. per-registered-domain cap: no domain may contribute more than
  *     `cap` pages, best-quality-first — the crawl-skew guard.
  *
  * Every stage is a narrow scan except the URL dedup (one hash
  * aggregate on the canonical URL) and the cap (k-bounded top-k per
  * domain + broadcast join-back) — at 100 TB the page payloads move
  * zero times.
  *
  * Args: --input <parquet with id, url, html> --output <dir>
  *       [--min-text-ratio 0.05] [--cap 1000]
  */
class WebCrawlPrepJob(args: Args) extends GraftJob(args) {
  def run(spark: SparkSession): Unit = {
    WebCrawlPrepJob.prepare(
      GraftSession.readParquet(spark, args("input")),
      minTextRatio = args.getOrElse("min-text-ratio", "0.05").toDouble,
      cap = args.getOrElse("cap", "1000").toInt)
      .write.mode("overwrite").parquet(args("output"))
  }
}

object WebCrawlPrepJob {

  /** The pipeline body, factored for testing: input (id, url, html) →
    * (id, url, host, domain, text, text_ratio, ratio, lang, quality,
    * host_authority, domain_rank).
    */
  def prepare(raw: DataFrame, minTextRatio: Double = 0.05,
      cap: Int = 1000): DataFrame = {
    // 1: parse/canonicalize; unparseable URLs drop here
    val urls = Web.parseUrls(raw.select(col("id"), col("url")), "id", "url")
      .select(col("id"), col("host"), col("domain"), col("normalized"))
    val withUrl = raw.join(urls, "id")

    // 2: canonical-URL dedup — smallest id per canonical form wins
    // (one hash aggregate; ties can't happen, id is unique)
    val w = Window.partitionBy("normalized").orderBy("id")
    val urlDeduped = withUrl
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1).drop("__r")

    // 3: extract text + markup stats in one pass; link-farm floor
    val extracted = Web.extractHtml(urlDeduped
        .select(col("id"), col("html")), "id", "html")
      .filter(col("text_ratio") >= minTextRatio && col("text_chars") > 0)

    // 4: compression-ratio junk filter on the EXTRACTED text
    val signals = Web.compressionSignals(
        extracted.select(col("id"), col("text")), "id", "text")
      .filter(col("ratio") > 0.02 && col("ratio") < 1.0)
      .select(col("id"), col("ratio"))

    // 5: language + quality on the extracted text (single scan)
    val scored = extracted.join(signals, "id")
      .join(urlDeduped.select(col("id"), col("url"), col("host"),
        col("domain")), "id")
      .withColumn("lang", TextAnalysis.langId(col("text")))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))

    // 5b: host authority from the crawl's OWN link graph — outlinks
    // at host granularity (hosts hashed to stable long ids for the
    // graph kernel; collision odds are 64-bit-negligible), 5 HITS
    // rounds, authority joined back as a crawl-intrinsic quality
    // prior (0 for hosts no page links to)
    val links = graft.ml.Web.linkEdges(
        urlDeduped.select(col("id"), col("url"), col("html")),
        "id", "url", "html")
      .filter(col("src_host") =!= col("dst_host"))
      .select(col("src_host"), col("dst_host")).distinct()
    val auth = graft.graph.Graphs.hits(
        links.select(xxhash64(col("src_host")).as("src"),
          xxhash64(col("dst_host")).as("dst")), iters = 5)
      .select(col("node").as("__hid"),
        col("authority").as("host_authority"))
    val withAuth = scored
      .withColumn("__hid", xxhash64(col("host")))
      .join(auth, Seq("__hid"), "left")
      .withColumn("host_authority",
        coalesce(col("host_authority"), lit(0.0)))
      .drop("__hid")

    // 6: crawl-skew guard — best-quality `cap` pages per domain
    Corpus.capPerDomain(withAuth, "id", "domain", "quality", cap)
      .select("id", "url", "host", "domain", "text", "text_ratio",
        "ratio", "lang", "quality", "host_authority", "domain_rank")
  }
}
