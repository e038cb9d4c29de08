package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.Lineage

import graft.core.PipelineCaches.persistTracked

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. Designed scale-first:
  *
  *  - exact dedup is a hash group-by (one shuffle of fingerprints);
  *  - MinHash/SimHash signatures are computed in one scan as Column
  *    expressions over the shingle array (no UDF, no per-row JVM
  *    objects);
  *  - candidate generation is a bucket self-join on (band, hash) —
  *    the only all-pairs work happens inside buckets, never globally;
  *  - verification re-checks true Jaccard on candidates only.
  *
  * At 100 TB the expensive path is the signature scan (linear) and the
  * bucket join (quadratic only within collision groups) — the standard
  * public MinHash-LSH construction (Broder '97).
  */
object Dedup {

  /** Word w-shingles of normalized text, hashed to 64-bit via
    * xxhash64 — the shingle *set* column used by both MinHash and
    * exact-Jaccard verification.
    */
  def shingles(text: Column, w: Int = 2): Column = {
    val words = split(TextAnalysis.normalize(text), " ")
    val n = size(words)
    val grams =
      if (w <= 1) words
      else transform(sequence(lit(0), greatest(n - w, lit(0))),
        i => array_join(slice(words, i + 1, lit(w)), " "))
    array_distinct(transform(grams, g => xxhash64(g)))
  }

  /** MinHash signature of a shingle-hash array: nHashes affine
    * permutations h_i(x) = a_i*x + b_i (64-bit wraparound), min per
    * i. Deterministic for a fixed seed.
    *
    * Column form, for composition in expression pipelines. NOTE: for
    * large nHashes this expands to nHashes array traversals of
    * generated code; the discovery pipeline below uses the typed
    * single-pass [[MinHashUtil]] instead, which is O(shingles ×
    * nHashes) primitive ops with no giant codegen class.
    */
  def minHashSignature(shingleHashes: Column, nHashes: Int = 128,
      seed: Long = 42L): Column = {
    val coeffs = MinHashUtil.coefficients(nHashes, seed)
    array(coeffs.map { case (a, b) =>
      array_min(transform(shingleHashes, x => x * a + b))
    }.toIndexedSeq: _*)
  }

  /** Banded bucket keys for LSH: split the signature into `bands`
    * bands of `rowsPer` values, hash each band. A pair of documents
    * collides in a band iff their signature rows in that band all
    * match; with 32 bands x 4 rows, pairs at Jaccard 0.8 are caught
    * with probability 1 - (1 - 0.8^4)^32 ≈ 1 - 5e-8.
    */
  def lshBandKeys(sig: Column, bands: Int = 32, rowsPer: Int = 4): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(array_join(
          transform(slice(sig, b * rowsPer + 1, rowsPer), _.cast("string")),
          ",")).as("h"))
    }: _*)

  /** Exact duplicate groups: fingerprint group-by keeping the minimum
    * id as the canonical representative. Returns (id, canonical_id,
    * fingerprint). One shuffle at any scale.
    */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = df.select(col(idCol).as("id"),
      TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
    val canon = fp.groupBy("fingerprint").agg(min("id").as("canonical_id"))
    fp.join(canon, "fingerprint").select("id", "canonical_id", "fingerprint")
  }

  /** Soft dedup: instead of DROPPING duplicate copies, weight every
    * copy by 1/cluster_size so each distinct content contributes one
    * document's worth of training signal regardless of how many times
    * the crawler saw it — the repetition-damage fix that keeps the
    * popularity signal available (cluster_size IS the popularity).
    * Returns every row as (id, fingerprint, cluster_size, weight);
    * Σ weight = distinct-content count by construction.
    *
    * Scale shape: one fingerprint-partitioned count window (a single
    * hash exchange) — no join, no second scan.
    */
  def dedupWeights(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fingerprint")
    df.select(col(idCol).as("id"),
        TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("weight", lit(1.0) / col("cluster_size"))
  }

  /** Near-duplicate candidate pairs via MinHash LSH, verified with
    * true shingle Jaccard >= `threshold`. Returns (id1, id2, jaccard)
    * with id1 < id2.
    *
    * Scale shape: one linear typed pass computes (shingle set,
    * signature, band hashes) per document; candidate generation is a
    * self-join on (band, bandHash) buckets — all-pairs work happens
    * only inside collision buckets; verification re-joins shingle
    * sets for candidates only.
    */
  def minHashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.6, nHashes: Int = 128, bands: Int = 32,
      shingleWidth: Int = 2, seed: Long = 42L): DataFrame = {
    val sigs = buildSignatureStore(df, idCol, textCol, nHashes, bands,
      shingleWidth, seed).transform(persistTracked)
    minHashFromSigs(sigs, threshold)
  }

  /** Candidate + verify stage of [[minHashNearDuplicates]] over an
    * already-materialized signature store (id, sh, bands) — split out
    * so [[lshQualityReport]] can feed both its pipelines from ONE
    * shingle/signature pass instead of re-running the text kernel.
    */
  private[ml] def minHashFromSigs(sigs: DataFrame,
      threshold: Double): DataFrame = {
    val buckets = sigs.select(col("id"),
      posexplode(col("bands")).as(Seq("band", "h")))

    val candidates = buckets.alias("l")
      .join(buckets.alias("r"), Seq("band", "h"))
      .filter(col("l.id") < col("r.id"))
      .select(col("l.id").as("id1"), col("r.id").as("id2"))
      .distinct()

    verifyJaccard(candidates, sigs.select("id", "sh"), threshold)
  }

  /** Dedup-quality audit of the banded MinHash configuration: recall
    * of [[minHashNearDuplicates]] against the EXACT blocked Jaccard
    * pair set from [[prefixFilterJaccardPairs]] (lossless, so it IS
    * ground truth within blocks). The number that answers "is 32×4
    * banding still catching our near-dups on THIS corpus" before a
    * threshold or band change ships — LSH recall is corpus-dependent
    * (it depends on where the Jaccard mass sits relative to the
    * S-curve), so it must be measured, not assumed. Returns ONE row
    * (n_truth, n_found, recall, recall_ok). `nHashes`, `bands`,
    * `shingleWidth` and `seed` are the configuration under audit and
    * default to [[minHashNearDuplicates]]' own.
    *
    * Scale shape: both inputs are the existing bounded pipelines;
    * the audit adds one pair-keyed join + a 1-row aggregate.
    */
  def lshQualityReport(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, blockCols: Seq[String],
      minRecall: Double = 0.9, nHashes: Int = 128, bands: Int = 32,
      shingleWidth: Int = 2, seed: Long = 42L): DataFrame = {
    // ONE text-kernel pass feeds BOTH pipelines (r12): the old form
    // ran MinHashUtil.shingleHashes over the whole corpus twice —
    // once into prefixFilterJaccardPairs' shingle-set cache, once
    // into minHashNearDuplicates' signature store. One combined typed
    // pass computes (sh, bands, blk, blank-keep) per document; the
    // truth side reads the blank-filtered (id, sh, blk) projection,
    // the found side the (id, sh, bands) projection, both off the
    // same cache. Results are bit-identical: the same kernel produces
    // sh, and blank docs never verified on the found side anyway
    // (empty shingle sets give NULL jaccard, filtered by >= t).
    val spark = df.sparkSession
    import spark.implicits._
    val coeffs = MinHashUtil.coefficients(nHashes, seed)
    val rowsPer = nHashes / bands
    val blkExpr =
      if (blockCols.isEmpty) lit("")
      else concat_ws("\u0001", blockCols.map(c => col(c).cast("string")): _*)
    val store = persistTracked(
      df.select(col(idCol).cast("long").as("id"), col(textCol).as("t"),
          blkExpr.as("blk"),
          (length(TextAnalysis.normalize(col(textCol))) > 0).as("keep"))
        .as[(Long, String, String, Boolean)]
        .map { case (id, text, b, keep) =>
          val sh = MinHashUtil.shingleHashes(text, shingleWidth)
          val sig = MinHashUtil.signature(sh, coeffs)
          (id, sh, MinHashUtil.bandHashes(sig, bands, rowsPer), b, keep)
        }
        .toDF("id", "sh", "bands", "blk", "keep"))
    val truth = prefixFilterFromSets(
      store.filter(col("keep")).select("id", "sh", "blk"), threshold)
      .select(col("id1"), col("id2"))
    val found = minHashFromSigs(store.select("id", "sh", "bands"),
      threshold)
      .select(col("id1"), col("id2"), lit(1L).as("__hit"))
    truth.join(found, Seq("id1", "id2"), "left")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_found"))
      .select(col("n_truth"), col("n_found"),
        (col("n_found").cast("double") / col("n_truth")).as("recall"),
        (col("n_found").cast("double") / col("n_truth") >= minRecall)
          .as("recall_ok"))
  }

  /** One linear typed pass over the corpus: per document its shingle
    * hash set, and its LSH band hashes — the durable signature record.
    * Persist this (parquet) and a growing corpus never rescans old
    * text: [[incrementalNearDuplicates]] dedups each new batch against
    * the store, then the batch's signatures are unioned in. Schema:
    * (id, sh: Array[Long], bands: Array[Long]).
    */
  def buildSignatureStore(df: DataFrame, idCol: String, textCol: String,
      nHashes: Int = 128, bands: Int = 32, shingleWidth: Int = 2,
      seed: Long = 42L): DataFrame = {
    val rowsPer = nHashes / bands
    val spark = df.sparkSession
    import spark.implicits._
    val coeffs = MinHashUtil.coefficients(nHashes, seed)
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val sh = MinHashUtil.shingleHashes(text, shingleWidth)
        val sig = MinHashUtil.signature(sh, coeffs)
        (id, sh, MinHashUtil.bandHashes(sig, bands, rowsPer))
      }
      .toDF("id", "sh", "bands")
  }

  /** Incremental near-dup discovery: find all pairs (new × corpus) and
    * (new × new) at true Jaccard ≥ `threshold`, WITHOUT touching the
    * corpus text — only `store` (from [[buildSignatureStore]], same
    * nHashes/bands/shingleWidth/seed) is read. The daily-append shape
    * at 100 TB: per batch the cost is one linear scan of the DELTA
    * plus a band-bucket join of the delta against the store — the
    * store side is bloom-pruned against the delta's (band, hash) keys
    * while still in its scan stage ([[graft.join.Joins.bloomJoin]]),
    * so only (near-)colliding store rows ever reach the exchange,
    * and the corpus text is never rescanned.
    * Returns (id1, id2, jaccard), id1 < id2, each pair touching ≥ 1
    * new document. Union the delta's signatures into the store
    * afterwards to advance the corpus.
    */
  def incrementalNearDuplicates(newDocs: DataFrame, store: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.6,
      nHashes: Int = 128, bands: Int = 32, shingleWidth: Int = 2,
      seed: Long = 42L): DataFrame = {
    val newSigs = buildSignatureStore(newDocs, idCol, textCol, nHashes,
      bands, shingleWidth, seed).transform(persistTracked)
    val allSigs = store.select("id", "sh", "bands").unionByName(newSigs)
    def explodeBands(sigs: DataFrame) = sigs.select(col("id"),
      posexplode(col("bands")).as(Seq("band", "h")))
    // store-side prune BEFORE the bucket join's exchange: a bloom
    // filter over the delta's (band, h) keys drops the store rows
    // that cannot collide while they are still in the scan stage.
    // The filter is sized to the delta's ACTUAL key count (nDeltaDocs
    // × bands — the count is free here: newSigs is persisted and
    // materializes for the join regardless), not a fixed default; a
    // fixed 4M-key filter is ~4.8 MB of per-task overhead at every
    // scale, which cost a 3× bench regression in round 4. When the
    // delta is small enough that AQE will broadcast its exploded
    // bands anyway, the bloom pass is pure overhead (the broadcast
    // hash join IS the prune) — skip straight to the plain join.
    // False positives only re-admit rows the join then rejects.
    val deltaKeys = math.max(1L, newSigs.count() * bands)
    // Read the already-parsed threshold from the SQL conf rather than
    // re-parsing the string form: byteStringAsBytes rejects "-1", the
    // standard way to disable broadcast joins. A non-positive threshold
    // means no broadcast prune will ever happen, so the bloom pass is
    // always worthwhile there.
    val broadcastThreshold = newDocs.sparkSession
      .sessionState.conf.autoBroadcastJoinThreshold
    // exploded delta row ≈ id(8) + band(4) + h(8) + row overhead
    val bloomWorthwhile =
      broadcastThreshold <= 0L || deltaKeys * 32L > broadcastThreshold
    val exploded = explodeBands(allSigs).alias("r")
    val explodedNew = explodeBands(newSigs).alias("l")
    val joined =
      if (bloomWorthwhile)
        graft.join.Joins.bloomJoin(exploded, explodedNew, Seq("band", "h"),
          expectedItems = deltaKeys)
      else exploded.join(explodedNew, Seq("band", "h"), "inner")
    val candidates = joined
      .filter(col("l.id") =!= col("r.id"))
      .select(least(col("l.id"), col("r.id")).as("id1"),
        greatest(col("l.id"), col("r.id")).as("id2"))
      .distinct()
    verifyJaccard(candidates, allSigs.select("id", "sh"), threshold)
  }

  /** Exact-duplicate savings report: one row of the numbers an ops
    * review asks after a dedup pass — total docs, docs carrying a
    * duplicated fingerprint, duplicate GROUPS, redundant copies
    * (docs minus one representative per group), redundant bytes
    * (chars of the dropped copies), and the largest group size.
    * Fingerprint = md5 of normalized text ([[TextAnalysis
    * .fingerprint]]); one (hash → stats) aggregate + a 1-row rollup.
    */
  def exactDupReport(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val byHash = docs
      .select(TextAnalysis.fingerprint(col(textCol)).as("h"),
        length(col(textCol)).cast("long").as("n_chars"))
      .groupBy("h")
      .agg(count(lit(1)).as("n"), min("n_chars").as("rep_chars"),
        sum("n_chars").as("tot_chars"))
    byHash.agg(
      sum("n").as("n_docs"),
      sum(when(col("n") > 1, col("n")).otherwise(0L)).as("n_duplicated"),
      sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_groups"),
      sum(when(col("n") > 1, col("n") - 1L).otherwise(0L))
        .as("n_redundant"),
      // bytes saved if each group kept one MINIMAL representative
      sum(when(col("n") > 1, col("tot_chars") - col("rep_chars"))
        .otherwise(0L)).as("redundant_chars"),
      max("n").as("largest_group"))
  }

  /** Histogram of exact-duplicate cluster sizes: (size, n_groups) —
    * the shape of the duplication problem ([[exactDupReport]] gives
    * totals; this says whether redundancy is a few huge groups or a
    * long tail of pairs, which decides the dedup strategy). Two hash
    * aggregates.
    */
  def dupClusterSizeHistogram(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(TextAnalysis.fingerprint(col(textCol)).as("h"))
      .groupBy("h").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_groups"))
      .orderBy("size")

  /** Connected components over near-duplicate pairs — the clustering
    * step that turns pairwise matches into dedup groups. Returns
    * (id, component) where component = the minimum id reachable from
    * `id` (the canonical representative).
    *
    * Algorithm: iterative min-label propagation with pointer jumping —
    * each round every node takes the min of its own label, its
    * neighbors' labels, and its label's label (path halving), so
    * convergence is O(log diameter) rounds rather than O(diameter).
    * Each round is two shuffles (a neighbor-min groupBy and a label
    * join) and one [[Lineage.iterate]] cut; iteration stops at
    * fixpoint, checked with a driver-side emptiness probe of the
    * changed labels (the reference's `readAtSubmitter` convergence
    * idiom, Source.scala:190-194). Near-dup components are
    * overwhelmingly tiny (pairs and small chains), so rounds ≈ 2-3 in
    * practice; the same loop scales to web-graph-sized inputs where
    * Kiveris et al.'s large/small-star is the published alternative.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val edges = pairs
      .select(col("id1").cast("long").as("src"), col("id2").cast("long").as("dst"))
    val undirected = edges
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .transform(persistTracked)
    val labels0 = undirected.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    val labels = Lineage.iterate(labels0, maxIter) { labels =>
      // min label among each node's neighbors
      val nbrMin = undirected
        .join(labels.select(col("id").as("dst"), col("label").as("nl")), "dst")
        .groupBy("src").agg(min("nl").as("nbr"))
        .select(col("src").as("id"), col("nbr"))
      // path-halving: also look up the label of my label
      val hop = labels.select(col("id").as("label"), col("label").as("ll"))
      labels
        .join(nbrMin, Seq("id"), "left")
        .join(hop, Seq("label"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr"), col("label")),
            coalesce(col("ll"), col("label"))).as("label"))
    }((prev, next) => next.ds.join(prev.ds.withColumnRenamed("label", "prev"), "id")
      .filter(col("label") =!= col("prev")).isEmpty)
    labels.select(col("id"), col("label").as("component"))
  }

  /** Connected components via alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the web-graph-scale alternative to
    * [[connectedComponents]]. Label propagation moves a component's
    * min one hop (plus one pointer jump) per round, so a long chain or
    * a high-diameter mesh costs O(log d) rounds of join+groupBy over
    * the FULL edge set; the star operations instead rewire edges
    * toward the minimum each round, provably converging in
    * O(log² n) (O(log n) in practice) while *shrinking* the live edge
    * set as stars collapse — and, critically for skewed web graphs, a
    * high-degree hub is handled by one groupBy partition rather than
    * replicating its label to every neighbor through a join.
    *
    *  - large-star: every neighbor larger than u links to
    *    m = min(N(u) ∪ {u});
    *  - small-star: each node's smaller-or-equal neighborhood
    *    collapses onto its minimum.
    *
    * Each round is two groupBy+join passes over the current edge set.
    * Convergence = edge-set fixpoint, detected with a (count,
    * sum-of-hashes) signature — exact up to 64-bit collision. The
    * count is the [[Lineage.iterate]] cut's own; the hash aggregate
    * runs only in a round whose edge count did not change, instead of
    * a full `except` anti-join per round. Returns (id, component) with
    * component = the component's minimum node id, for every node
    * appearing in `pairs` — the same contract as
    * [[connectedComponents]].
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val raw = pairs
      .select(col("id1").cast("long").as("src"), col("id2").cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    val nodes = raw.select(col("src").as("id"))
      .unionByName(raw.select(col("dst").as("id"))).distinct()
      .transform(persistTracked)
    val edges0 = raw
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct()
    def hashSum(df: DataFrame): Long =
      df.agg(coalesce(sum(xxhash64(col("src"), col("dst"))), lit(0L)))
        .head().getLong(0)
    val edges = Lineage.iterate(edges0, maxIter) { edges =>
      // large-star: group the undirected neighborhood of u, link every
      // strictly-larger neighbor to m = min(N(u) ∪ {u})
      val und = edges
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      val largeMin = und.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src").as("u"), least(col("src"), col("mn")).as("m"))
      val large = und.join(largeMin, col("src") === col("u"))
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
      // small-star: orient edges toward the smaller endpoint; each
      // group (u, Γ(u)) rewires {Γ(u) ∪ {u}} \ {m} onto m = min Γ(u).
      // The one row where v == m carries u's own edge (u, m).
      val oriented = large
        .select(greatest(col("src"), col("dst")).as("u"),
          least(col("src"), col("dst")).as("v"))
        .distinct()
      val smallMin = oriented.groupBy("u").agg(min("v").as("m"))
      oriented.join(smallMin, "u")
        .select(when(col("v") === col("m"), col("u")).otherwise(col("v")).as("src"),
          col("m").as("dst"))
        .distinct()
    }((prev, next) => next.rows == prev.rows && hashSum(next.ds) == hashSum(prev.ds))
    // fixpoint edges form min-rooted stars: every non-root points at
    // its component minimum; roots appear only on the dst side
    nodes
      .join(edges.groupBy("src").agg(min("dst").as("component"))
        .withColumnRenamed("src", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Full dedup grouping: near-dup discovery (MinHash LSH) →
    * connected components → every document mapped to its canonical
    * representative (docs with no near-dup map to themselves).
    */
  def dedupGroups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.6): DataFrame = {
    val pairs = minHashNearDuplicates(df, idCol, textCol, threshold)
    val comp = connectedComponents(pairs)
    df.select(col(idCol).cast("long").as("id"))
      .join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("canonical_id"))
  }

  /** Eval-set contamination: (corpus_id, probe_id, n_shared) for every
    * corpus/probe document pair sharing at least `minShared` distinct
    * word `n`-grams — the train/test-leakage check a training corpus
    * runs against its benchmark suites before release. Documents
    * shorter than `n` words are skipped on both sides (no partial
    * grams).
    *
    * Scale shape: per side one linear scan explodes distinct gram
    * hashes; the join touches only grams present in BOTH corpora —
    * with a probe side orders of magnitude smaller than the corpus
    * (eval suites vs 100 TB), broadcast-hash the probe grams and the
    * corpus never shuffles. For astronomically large corpora sample
    * the corpus side's grams with `TextAnalysis.winnowingFingerprints`
    * (bounded recall loss) before joining.
    */
  def contamination(corpus: DataFrame, probes: DataFrame, idCol: String,
      textCol: String, n: Int = 8, minShared: Int = 3): DataFrame = {
    def grams(df: DataFrame, idName: String) = df
      .filter(size(split(TextAnalysis.normalize(col(textCol)), " ")) >= n)
      .select(col(idCol).cast("long").as(idName),
        explode(shingles(col(textCol), n)).as("g"))
    // the probe side is small by contract (eval suites vs the corpus):
    // broadcast its grams so the corpus scan never shuffles
    grams(corpus, "corpus_id")
      .join(broadcast(grams(probes, "probe_id")), "g")
      // shingles() is per-doc distinct, so matches = distinct shared grams
      .groupBy("corpus_id", "probe_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** True Jaccard verification of candidate pairs against shingle
    * sets: join both sides' sets, intersect/union sizes.
    */
  def verifyJaccard(pairs: DataFrame, shingleSets: DataFrame,
      threshold: Double): DataFrame = {
    val s1 = shingleSets.select(col("id").as("id1"), col("sh").as("sh1"))
    val s2 = shingleSets.select(col("id").as("id2"), col("sh").as("sh2"))
    pairs.join(s1, "id1").join(s2, "id2")
      .withColumn("jaccard",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Per-document distinct shingle-hash sets via the typed JVM kernel
    * ([[MinHashUtil.shingleHashes]], the buildSignatureStore path):
    * the Column-expression [[shingles]] evaluates its higher-order
    * lambdas interpreted, which measured ~50x slower than the
    * compiled kernel on the sf0.1 corpus. Blank docs are dropped on a
    * cheap codegen'd length predicate; block columns ride along as
    * one \u0001-joined string key `blk`; the result is persisted
    * (consumers join it several times). Schema: (id, sh, blk).
    */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int, blockCols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val blk =
      if (blockCols.isEmpty) lit("")
      else concat_ws("\u0001", blockCols.map(c => col(c).cast("string")): _*)
    persistTracked(
      df.filter(length(TextAnalysis.normalize(col(textCol))) > 0)
        .select(col(idCol).cast("long").as("id"),
          col(textCol).as("t"), blk.as("blk"))
        .as[(Long, String, String)]
        .map { case (id, text, b) =>
          (id, MinHashUtil.shingleHashes(text, shingleWidth), b)
        }
        .toDF("id", "sh", "blk"))
  }

  /** EXACT set-similarity self-join by prefix filtering (Chaudhuri et
    * al. SSJoin 2006 / Bayardo et al. All-Pairs 2007): order every
    * document's shingle set by ascending corpus frequency (rarest
    * first, gram-hash tie-break) and join only each set's PREFIX of
    * length |s| − ⌈t·|s|⌉ + 1 — any pair with Jaccard ≥ t must share
    * a prefix gram under a shared global order, so the filter is
    * lossless while hot grams ("of the") never generate candidates
    * unless a document consists of almost nothing else. Candidates
    * additionally pass the length filter min|s| ≥ t·max|s|, then
    * exact [[verifyJaccard]] — the output EQUALS the all-pairs
    * quadratic answer, without blocking keys and without MinHash's
    * probabilistic recall.
    *
    * Scale shape: gram frequencies are one hash aggregate; the prefix
    * rank is a per-document sort (bounded by document size); the
    * candidate join shuffles only prefix grams — for t = 0.8 that is
    * ≤ 20% of the gram stream, and its frequency skew is inverted
    * (prefixes hold each document's RAREST grams, so bucket sizes
    * stay small where a plain gram join explodes). Matched pairs then
    * pass the PPJoin overlap bound (see inline) before the per-pair
    * verification join. On corpora whose vocabulary is SMALL relative
    * to corpus size (so even "rare" grams are common), pass
    * `blockCols` (language, source, [[lengthBucket]]) — the prefix
    * semantics hold within blocks for any shared global order, and
    * the candidate buckets divide by the block count.
    */
  def prefixFilterJaccardPairs(df: DataFrame, idCol: String,
      textCol: String, threshold: Double,
      shingleWidth: Int = 2,
      blockCols: Seq[String] = Seq.empty): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      "threshold must be in (0, 1]")
    val sets = shingleSets(df, idCol, textCol, shingleWidth, blockCols)
    prefixFilterFromSets(sets, threshold)
  }

  /** Prefix-filter + verify over already-materialized (id, sh, blk)
    * shingle sets — split out so [[lshQualityReport]] can share one
    * text-kernel pass between its two pipelines.
    */
  private[ml] def prefixFilterFromSets(sets: DataFrame,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = sets.select(col("id"), size(col("sh")).as("len"),
      explode(col("sh")).as("g"), col("blk"))
    val freq = toks.groupBy("g").agg(count(lit(1)).as("f"))
    val byRarity = Window.partitionBy("id").orderBy(col("f"), col("g"))
    // ⌈t·len⌉ computed with a downward bias so float noise on an
    // integer product can only LENGTHEN the prefix (longer = still
    // lossless; shorter would drop true pairs)
    // the prefix table feeds BOTH sides of the candidate self-join:
    // unpersisted, the join+window subtree above was planned and
    // executed twice (r12 metrics: the two per-doc rarity-rank window
    // sorts were the plan's top pipelines at 2.1 s + 1.2 s of task
    // time) — persist it so rank assignment runs once
    val pref = persistTracked(toks.join(freq, "g")
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <=
        col("len") - ceil(lit(threshold) * col("len") - lit(1e-9)) + 1)
      .select(col("id"), col("g"), col("len"), col("rk"), col("blk")))
    val joinKeys = Seq("g", "blk")
    // PPJoin-style group bound (Xiao et al. 2008): with c shared
    // prefix grams and m1/m2 their LAST positions in each rarity
    // order, every further shared gram sorts after that last shared
    // prefix gram on BOTH sides (else it would itself be a shared
    // prefix gram), so overlap ≤ c + min(l1−m1, l2−m2); pairs that
    // cannot reach the Jaccard-t overlap floor ⌈t/(1+t)·(l1+l2)⌉
    // never enter verification.
    val cand = pref.alias("a").join(pref.alias("b"), joinKeys)
      .filter(col("a.id") < col("b.id"))
      .filter(least(col("a.len"), col("b.len")).cast("double") >=
        lit(threshold) * greatest(col("a.len"), col("b.len")) - lit(1e-9))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("c"),
        max(col("a.len")).as("l1"), max(col("b.len")).as("l2"),
        max(col("a.rk")).as("m1"), max(col("b.rk")).as("m2"))
      .filter(col("c") +
        least(col("l1") - col("m1"), col("l2") - col("m2")) >=
        ceil(lit(threshold / (1.0 + threshold)) *
          (col("l1") + col("l2")) - lit(1e-9)))
      .select("id1", "id2")
    verifyJaccard(cand, sets.select("id", "sh"), threshold)
  }

  /** Asymmetric CONTAINMENT pairs: ordered (id1, id2) with
    * C(1→2) = |sh1 ∩ sh2| / |sh1| ≥ `threshold` — "how much of doc 1
    * lives inside doc 2". Jaccard misses subsumption (a paragraph
    * quoted inside a book scores near-zero Jaccard but containment
    * ≈ 1), so this is the quote / excerpt / truncated-copy detector:
    * a near-threshold run over a corpus surfaces boilerplate
    * inclusions and partial plagiarism that symmetric dedup keeps.
    *
    * All-pairs within `blockCols` groups (language, source,
    * [[lengthBucket]]…) over the persisted typed shingle sets — the
    * [[ngramJaccardPairs]] blocking contract: group sizes must be
    * bounded by the blocking key for the quadratic-within-block join
    * to hold at scale.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], threshold: Double,
      shingleWidth: Int = 2): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      "threshold must be in (0, 1]")
    require(blockCols.nonEmpty,
      "containmentPairs requires blocking columns (the all-pairs join " +
        "is quadratic within blocks)")
    val sets = shingleSets(df, idCol, textCol, shingleWidth, blockCols)
    val l = sets.select(col("id").as("id1"), col("sh").as("sh1"),
      col("blk"))
    val r = sets.select(col("id").as("id2"), col("sh").as("sh2"),
      col("blk"))
    l.join(r, "blk")
      .filter(col("id1") =!= col("id2"))
      .withColumn("containment",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(col("sh1")))
      .filter(col("containment") >= threshold)
      .select("id1", "id2", "containment")
  }

  /** Geometric length-bucket blocking column: documents can only be
    * near-dups if their lengths are within the bucket ratio, so
    * bucketing by floor(log_r(len)) bounds all-pairs groups at scale
    * without losing pairs above the corresponding Jaccard bound.
    */
  def lengthBucket(text: Column, ratio: Double = 1.3): Column =
    floor(log(length(text) + 1) / math.log(ratio)).cast("int")

  /** Exact all-pairs n-gram Jaccard within blocking groups — the
    * correctness oracle for the probabilistic paths, and usable
    * directly when a good blocking key (language, source, length
    * bucket) bounds group sizes.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], threshold: Double,
      shingleWidth: Int = 2): DataFrame = {
    val base = df.select(
      (col(idCol).as("id") +: col(textCol).as("__text") +: blockCols.map(col)): _*)
      .withColumn("sh", shingles(col("__text"), shingleWidth))
      .drop("__text")
    val l = base.select(
      (col("id").as("id1") +: col("sh").as("sh1") +: blockCols.map(col)): _*)
    val r = base.select(
      (col("id").as("id2") +: col("sh").as("sh2") +: blockCols.map(col)): _*)
    l.join(r, blockCols)
      .filter(col("id1") < col("id2"))
      .withColumn("jaccard",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Typed single-pass MinHash kernels: plain Scala per row, no
    * expression-tree blowup. Deterministic for fixed seeds.
    */
  object MinHashUtil {

    def coefficients(nHashes: Int, seed: Long): Array[(Long, Long)] = {
      val rnd = new scala.util.Random(seed)
      Array.fill(nHashes)((rnd.nextLong() | 1L, rnd.nextLong()))
    }

    // precompiled: String.replaceAll would recompile both regexes for
    // every document — measurable on a 100 TB signature scan
    private val nonAlnum = java.util.regex.Pattern.compile("[^a-z0-9\\s]")
    private val multiWs = java.util.regex.Pattern.compile("\\s+")

    def normalize(s: String): String =
      multiWs.matcher(
        nonAlnum.matcher(s.toLowerCase).replaceAll(" ")
      ).replaceAll(" ").trim

    /** 64-bit string hash from two seeded 32-bit murmurs. */
    def hash64(s: String): Long = {
      import scala.util.hashing.MurmurHash3
      (MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) |
        (MurmurHash3.stringHash(s, 0x85ebca6b).toLong & 0xffffffffL)
    }

    /** Distinct hashed word w-shingles of normalized text. */
    def shingleHashes(text: String, w: Int): Array[Long] = {
      val words = normalize(text).split(" ")
      val grams =
        if (words.length <= w) Iterator.single(words.mkString(" "))
        else words.sliding(w).map(_.mkString(" "))
      grams.map(hash64).toArray.distinct.sorted
    }

    /** One pass over the shingles, nHashes running minima. */
    def signature(sh: Array[Long], coeffs: Array[(Long, Long)]): Array[Long] = {
      val sig = Array.fill(coeffs.length)(Long.MaxValue)
      var i = 0
      while (i < sh.length) {
        val x = sh(i)
        var j = 0
        while (j < coeffs.length) {
          val h = x * coeffs(j)._1 + coeffs(j)._2
          if (h < sig(j)) sig(j) = h
          j += 1
        }
        i += 1
      }
      sig
    }

    /** FNV-1a style mix of each band's signature slice. */
    def bandHashes(sig: Array[Long], bands: Int, rowsPer: Int): Array[Long] = {
      val out = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var h = 0xcbf29ce484222325L
        var r = 0
        while (r < rowsPer) {
          h ^= sig(b * rowsPer + r)
          h *= 0x100000001b3L
          r += 1
        }
        out(b) = h
        b += 1
      }
      out
    }

    /** Typed 64-bit SimHash over normalized word multiset. */
    def simHash64(text: String): Long = {
      val words = normalize(text).split(" ")
      val sums = new Array[Int](64)
      var i = 0
      while (i < words.length) {
        val h = hash64(words(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) != 0L) sums(b) += 1 else sums(b) -= 1
          b += 1
        }
        i += 1
      }
      var sig = 0L
      var b = 0
      while (b < 64) {
        if (sums(b) > 0) sig |= (1L << b)
        b += 1
      }
      sig
    }
  }

  /** 64-bit SimHash of the token multiset: per bit, sum +1/-1 over
    * token hashes (weighted by term frequency via the token list),
    * sign → bit. Near-dups have small Hamming distance.
    *
    * Column form (composable); the discovery pipeline uses
    * [[MinHashUtil.simHash64]], the typed single-pass kernel.
    */
  def simHash(text: Column): Column = {
    val toks = split(TextAnalysis.normalize(text), " ")
    val hashes = transform(toks, t => xxhash64(t))
    val bitSums = (0 until 64).map { b =>
      aggregate(hashes, lit(0L),
        (acc, h) => acc + when(h.bitwiseAND(lit(1L << b)) =!= 0L, 1L).otherwise(-1L))
    }
    bitSums.zipWithIndex.foldLeft(lit(0L)) { case (acc, (s, b)) =>
      acc.bitwiseOR(when(s > 0, lit(1L << b)).otherwise(lit(0L)))
    }
  }

  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicates: candidates via 16-bit chunk pigeonhole
    * (a pair within Hamming distance 3 of 64 bits must agree on at
    * least one of 4 chunks; we use it as a recall-oriented blocking
    * key), verified by true Jaccard >= threshold.
    */
  def simHashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 16, threshold: Double = 0.6,
      shingleWidth: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sigs = df.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .as[(Long, String)]
      .map { case (id, text) =>
        (id, MinHashUtil.simHash64(text),
          MinHashUtil.shingleHashes(text, shingleWidth))
      }
      .toDF("id", "sim", "sh")
      .transform(persistTracked)
    val chunks = sigs.select(col("id"), col("sim"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("sim"), c * 16).bitwiseAND(0xFFFFL).as("ck"))
      }: _*)).as("b"))
      .select(col("id"), col("sim"), col("b.chunk"), col("b.ck"))
    val candidates = chunks.alias("l")
      .join(chunks.alias("r"), Seq("chunk", "ck"))
      .filter(col("l.id") < col("r.id"))
      .filter(hammingDistance(col("l.sim"), col("r.sim")) <= maxHamming)
      .select(col("l.id").as("id1"), col("r.id").as("id2"))
      .distinct()
    verifyJaccard(candidates, sigs.select("id", "sh"), threshold)
  }

  /** SemDeDup-style semantic near-duplicates (the embedding-space
    * analogue of MinHash dedup, after Abbas et al. '23): k-means
    * blocks the embedding space via
    * [[Similarity.clusterAssignments]], exact cosine runs only inside
    * a block, pairs scoring >= `threshold` survive. `softAssign > 1`
    * replicates each vector into its nearest clusters so boundary
    * pairs still co-bucket — the same recall/storage trade as IVF
    * soft assignment.
    *
    * Scale shape: the quadratic step is per-block (Σ|block|², not
    * |corpus|²); blocking is a linear scan against a broadcast
    * centroid table. Precision is exact by construction (every emitted
    * pair carries its true cosine); recall depends on co-bucketing,
    * which `q_dedup_semantic` gates against the exact pair set.
    */
  def semanticDuplicates(embeddings: DataFrame, idCol: String,
      vecCol: String, threshold: Double, nCentroids: Int = 16,
      softAssign: Int = 2, seed: Long = 42L,
      kmeansIters: Int = 2): DataFrame = {
    val e = embeddings.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("vec"))
    val assigned = Similarity.clusterAssignments(e, nCentroids, softAssign,
      seed, kmeansIters)
    val a = assigned.select(col("centroid"), col("id").as("id1"),
      col("vec").as("v1"))
    val b = assigned.select(col("centroid"), col("id").as("id2"),
      col("vec").as("v2"))
    a.join(b, "centroid")
      .filter(col("id1") < col("id2"))
      .withColumn("cos", Similarity.cosine(col("v1"), col("v2")))
      .filter(col("cos") >= threshold)
      .select("id1", "id2", "cos")
      .distinct()
  }

  /** Fuzzy entity-resolution pairs: all (id1, id2, dist) with
    * levenshtein(s1, s2) <= maxDist, id1 < id2 — the classic
    * filter-verify edit-distance self-join (record linkage / name
    * matching). Three pruning layers, each a necessary condition for
    * edit distance <= d:
    *
    *  1. length band: |len(a) − len(b)| <= d. Blocked by emitting each
    *     string to the d+1 length keys [len, len+d] and joining the
    *     other side on its exact length — every qualifying pair meets
    *     exactly once, no neighboring-bucket double-joins.
    *  2. character-bag prune: the L1 distance of 16-bucket character
    *     histograms <= 2d (an edit changes at most one char out and
    *     one in). Cheap per-candidate array arithmetic that kills most
    *     same-length false candidates before the O(len²) verify.
    *  3. exact levenshtein verify on the survivors.
    *
    * Scale shape: one shuffle of (lengthKey, id, string, sig) per
    * side; all-pairs work happens only inside a length band (for
    * corpora with degenerate uniform lengths — ids, SKUs — the bag
    * prune is the effective filter; serious blocking for such data
    * should add a domain key to `extraBlockCols`, e.g. a prefix or
    * phonetic code, which ANDs into the join).
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int, extraBlockCols: Seq[String] = Nil,
      parallelism: Int = 64): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    val sig = expr(
      s"""transform(sequence(0, 15), b ->
         |  size(filter(split(s, ''), c -> c != '' AND ascii(c) % 16 = b)))"""
        .stripMargin)
    val base = df.select(
      (col(idCol).as("id") +: col(strCol).as("s") +:
        extraBlockCols.map(col)): _*)
      .withColumn("len", length(col("s")))
      .withColumn("sig", sig)
    // salt the length key: real name corpora concentrate on a few
    // lengths (and synthetic ones on ONE), which would otherwise put
    // the whole candidate space into a single join task. The probe
    // side hashes onto `parallelism` salts, the (smaller, once-per-
    // string) build side replicates across them — same pair set,
    // `parallelism`-way concurrency on the hot length.
    val probe = base.select(
      (col("id").as("id1") +: col("s").as("s1") +: col("len").as("len1") +:
        col("sig").as("sig1") +: explode(sequence(col("len"),
          col("len") + maxDist)).as("lk") +:
        extraBlockCols.map(c => col(c).as(s"__b1_$c"))): _*)
      .withColumn("__salt", pmod(hash(col("id1")), lit(parallelism)))
    val build = base.select(
      (col("id").as("id2") +: col("s").as("s2") +: col("len").as("len2") +:
        col("sig").as("sig2") +: col("len").as("lk") +:
        extraBlockCols.map(c => col(c).as(s"__b2_$c"))): _*)
      .withColumn("__salt",
        explode(sequence(lit(0), lit(parallelism - 1))))
    val blockCond = extraBlockCols
      .map(c => col(s"__b1_$c") === col(s"__b2_$c"))
      .foldLeft(
        // each unordered pair meets once: the shorter side probes the
        // longer side's exact length (ties broken by id)
        col("len1") < col("len2") ||
          (col("len1") === col("len2") && col("id1") < col("id2")))(_ && _)
    // unrolled L1 over the 16-bucket histograms: getItem chains stay
    // inside whole-stage codegen, where the zip_with/aggregate form
    // falls back to interpreted eval — on a hot length bucket that
    // interpreted filter WAS the bottleneck (each candidate pair pays
    // it before the levenshtein even runs)
    val l1 = (0 until 16)
      .map(i => abs(col("sig1").getItem(i) - col("sig2").getItem(i)))
      .reduce(_ + _)
    // explicit numPartitions on the join keys: AQE's byte-based
    // coalescing sees a KB-sized shuffle (the name table) and would
    // fold the salted keys back into ONE task — but the work is the
    // quadratic OUTPUT of the join, which AQE can't see. A user-
    // specified repartition is exempt from coalescing and satisfies
    // the join's distribution, so the salt actually buys concurrency.
    probe.repartition(parallelism, col("lk"), col("__salt"))
      .join(build.repartition(parallelism, col("lk"), col("__salt")),
        Seq("lk", "__salt"))
      .filter(blockCond)
      .filter(l1 <= 2 * maxDist)
      // threshold form: Ukkonen band, O(maxDist·len) per pair with an
      // early exit (returns -1 above the bound) instead of the full
      // O(len²) matrix — the verify step is the hot loop at scale
      .withColumn("dist", levenshtein(col("s1"), col("s2"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(least(col("id1"), col("id2")).as("id1"),
        greatest(col("id1"), col("id2")).as("id2"), col("dist"))
  }

  /** Jaro–Winkler record linkage: candidate pairs via (first-token,
    * length-band) blocking, verified by the native [[
    * org.apache.spark.sql.graft.JaroWinkler]] expression ≥
    * `threshold`. The length band uses the [[editDistancePairs]]
    * probe/build trick — the shorter string probes every length in
    * `[len, len+lenBand]`, the longer is built at its exact length —
    * so the band condition stays a pure equi-join key and each
    * unordered pair meets exactly once. Blocking is the standard
    * recall/perf trade of linkage at scale (names that disagree on
    * their first token or differ by more than `lenBand` chars are
    * never compared); the verify is exact on every emitted pair.
    *
    * Returns (id1, id2, name1, name2, jw), id1 < id2.
    * `includeIdentical = false` drops pairs whose strings are EQUAL
    * (pure duplicates — exact dedup's job, and at real duplicate
    * rates the dominant share of the output volume).
    *
    * Scale shape: the JW verify runs once per DISTINCT string pair,
    * never per row pair — row-level inputs collapse to the name table
    * first, matched name pairs fan back out to ids through two
    * name-keyed equi-joins, and identical-name pairs (when kept) come
    * from a name-keyed self-join with no JW evaluation at all. A name
    * duplicated a million times costs one verify plus its (inherent)
    * output volume. One shuffle on the (block, length) key; quadratic
    * verify work only within a (first-token, length) bucket of
    * DISTINCT names; JW runs inside whole-stage codegen via a static
    * call. The (blk, len) key is SALTED `parallelism` ways exactly
    * like [[editDistancePairs]] — real name corpora concentrate on a
    * few hot (first-token, length) buckets ("john", 10), and without
    * the salt + explicit repartition AQE's byte-based coalescing
    * (blind to the quadratic join OUTPUT) would fold the hot bucket's
    * verify work onto one task (the round-18 edit-distance collapse).
    */
  def jaroWinklerLinkage(df: DataFrame, idCol: String, strCol: String,
      threshold: Double, lenBand: Int = 1,
      includeIdentical: Boolean = true, parallelism: Int = 64): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(lenBand >= 0, s"lenBand must be >= 0, got $lenBand")
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    val base = graft.core.PipelineCaches.persistTracked(
      df.select(col(idCol).cast("long").as("id"), col(strCol).as("s")))
    val names = base.groupBy("s").agg(count(lit(1)).as("n"))
      .withColumn("blk", split(col("s"), " ").getItem(0))
      .withColumn("len", length(col("s")))
    val probe = names.select(col("blk"), col("s").as("s1"),
      col("len").as("len1"),
      explode(sequence(col("len"), col("len") + lenBand)).as("lk"))
      .withColumn("__salt", pmod(hash(col("s1")), lit(parallelism)))
    val build = names.select(col("blk"), col("s").as("s2"),
      col("len").as("len2"), col("len").as("lk"))
      .withColumn("__salt",
        explode(sequence(lit(0), lit(parallelism - 1))))
    val jw = graft.functions.StringFunctions.jaro_winkler(
      col("s1"), col("s2"))
    // distinct-name matches; s1 < s2 on equal length makes each
    // unordered NAME pair meet exactly once
    val matched = probe
      .repartition(parallelism, col("blk"), col("lk"), col("__salt"))
      .join(build
        .repartition(parallelism, col("blk"), col("lk"), col("__salt")),
        Seq("blk", "lk", "__salt"))
      .filter(col("len1") < col("len2") ||
        (col("len1") === col("len2") && col("s1") < col("s2")))
      .withColumn("jw", jw)
      .filter(col("jw") >= threshold)
      .select("s1", "s2", "jw")
    val cross = matched
      .join(base.select(col("s").as("s1"), col("id").as("ida")), "s1")
      .join(base.select(col("s").as("s2"), col("id").as("idb")), "s2")
      .select(
        when(col("ida") < col("idb"),
          struct(col("ida"), col("s1"), col("idb"), col("s2")))
          .otherwise(struct(col("idb").as("ida"), col("s2").as("s1"),
            col("ida").as("idb"), col("s1").as("s2"))).as("p"),
        col("jw"))
      .select(col("p.ida").as("id1"), col("p.idb").as("id2"),
        col("p.s1").as("name1"), col("p.s2").as("name2"), col("jw"))
    if (!includeIdentical) cross
    else {
      val same = base.alias("a")
        .join(base.alias("b"), col("a.s") === col("b.s") &&
          col("a.id") < col("b.id"))
        .select(col("a.id").as("id1"), col("b.id").as("id2"),
          col("a.s").as("name1"), col("b.s").as("name2"),
          lit(1.0).as("jw"))
      cross.unionAll(same)
    }
  }

  /** Exact duplicated-substring spans: maximal runs of k-token grams
    * that appear in >= `minDocs` distinct documents — the distributed
    * re-expression of suffix-array substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"):
    * instead of one global suffix array, every k-token window is
    * fingerprinted (xxhash64), duplicated fingerprints are found with
    * a hash group-by, and surviving window positions are merged into
    * maximal spans per document. Any duplicated substring of >= k
    * tokens is covered by a chain of duplicated k-grams, so the
    * merged spans are a superset envelope of the true duplicated
    * regions, with <= k-1 tokens of slack at each edge.
    *
    * Returns (doc_id, span_start, span_end, span_tokens); positions
    * are 1-based token indices of the normalized tokenization.
    *
    * Scale shape: one linear scan emits (doc, pos, gramHash); finding
    * duplicated grams is a distinct + count group-by on the hash (two
    * shuffles of 16-byte rows, map-side partial aggregation on both);
    * the left-semi join back is a shuffle on the hash; span merge is
    * one window partitioned by document over only the *flagged*
    * positions (usually a tiny fraction of the corpus). Nothing holds
    * a whole document's grams in memory and no step is quadratic.
    */
  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS algorithm): hash every `k`-token gram, slide a `w`-gram
    * window, and keep each window's MINIMAL hash (rightmost position
    * on ties, per the paper). The guarantee: any match of at least
    * w + k − 1 tokens between two documents shares at least one
    * fingerprint, while storage drops to ~2/(w+1) of the gram count —
    * the fingerprint density/recall dial that raw k-gram
    * fingerprinting ([[duplicateSpans]]) lacks.
    *
    * Hashes are md5 STRINGS compared lexicographically — engine-
    * portable ordering (the Corpus md5-permutation idiom), no numeric
    * conversion. Tie-break composes (hash asc, pos desc) into one
    * minimizable key: `hash ‖ '@' ‖ (10^7 − pos)` zero-padded.
    *
    * Returns distinct (id, pos, gram) — 1-based token position of the
    * selected gram.
    *
    * Scale shape: gram explode → w-way window-membership explode
    * (each gram feeds ≤ w windows) → per-(doc, window) min aggregate
    * → distinct. All hash aggregation on (doc, window) keys; linear
    * in corpus size, no joins.
    */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(w >= 1, s"w must be >= 1, got $w")
    val toks = df.select(col(idCol).as("id"),
      filter(split(graft.ml.TextAnalysis.normalize(col(textCol)), " "),
        t => length(t) > 0).as("tk"))
    val grams = toks
      .select(col("id"), size(col("tk")).as("m"),
        posexplode(when(size(col("tk")) >= k,
          transform(sequence(lit(0), size(col("tk")) - k),
            i => concat_ws(" ", slice(col("tk"), i + 1, lit(k)))))
          .otherwise(array())).as(Seq("p0", "gram")))
      .select(col("id"), (col("p0") + 1).as("pos"), col("gram"),
        (col("m") - k + 1).as("ng")) // grams per doc
    // each gram at pos feeds windows wp in [pos, pos+w-1] ∩ [w, ng];
    // the guard matters: Spark's sequence(a, b) DESCENDS when a > b,
    // so an unguarded empty intersection (doc shorter than w grams)
    // would emit phantom windows instead of none
    val lo = greatest(col("pos"), lit(w))
    val hi = least(col("pos") + w - 1, col("ng"))
    // composite minimizable key: md5 asc, then RIGHTMOST pos on ties.
    // The whole selection rides ONE string: the comparable prefix is
    // fixed-width (32 md5 + '@' + 7 digits), so appending the payload
    // after a separator never changes the argmin — and min(string) is
    // hash-aggregable, where the previous min(struct) forced a
    // SortAggregate pair (two full sorts of the w-fold window stream,
    // the plan's dominant cost in the r11 before-capture). Computed
    // BEFORE the window-membership explode (r12): per GRAM, not per
    // member row — the old placement ran md5+concat+lpad w times per
    // gram on the w-fold stream.
    val key = concat(md5(col("gram")), lit("@"),
      lpad((lit(10000000) - col("pos")).cast("string"), 7, "0"),
      lit("|"), col("gram"))
    val member = grams.select(col("id"), key.as("sel0"),
      explode(when(lo <= hi, sequence(lo, hi)).otherwise(array())).as("wp"))
    member
      .groupBy("id", "wp")
      .agg(min(col("sel0")).as("sel"))
      .select(col("id"),
        (lit(10000000) - substring(col("sel"), 34, 7).cast("int"))
          .cast("int").as("pos"),
        expr("substring(sel, 42)").as("gram"))
      .distinct()
  }

  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = split(TextAnalysis.normalize(col(textCol)), " ")
    val grams = df
      .select(col(idCol).as("doc_id"), words.as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("w")) - (k - 1)),
          i => struct(i.as("pos"),
            xxhash64(array_join(slice(col("w"), i, lit(k)), " ")).as("gh"))))
        .as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.gh").as("gh"))
    // deliberately NOT cached: regenerating the gram stream for the
    // semi join is a narrow re-scan, cheaper than materializing a
    // corpus-sized gram cache (which could not be resident at 100 TB)
    val g = grams
    // minDocs == 2 (the default): "appears in >= 2 distinct docs" is
    // exactly min(doc) != max(doc) — ONE partial/final aggregation,
    // one exchange of (gh, min, max) triples, instead of the
    // distinct + count pair of shuffles the general case needs
    val dup =
      if (minDocs == 2)
        g.groupBy("gh").agg(min("doc_id").as("__lo"), max("doc_id").as("__hi"))
          .filter(col("__lo") =!= col("__hi")).select("gh")
      else
        g.select("gh", "doc_id").distinct()
          .groupBy("gh").agg(count(lit(1)).as("nd"))
          .filter(col("nd") >= minDocs).select("gh")
    val flagged = g.join(dup, Seq("gh"), "left_semi")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val run = byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged
      .withColumn("prev", lag("pos", 1).over(byDoc))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > k, 1).otherwise(0))
      .withColumn("grp", sum("brk").over(run))
      .groupBy("doc_id", "grp")
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + (k - 1)).cast("long").as("span_end"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1L)
      .select("doc_id", "span_start", "span_end", "span_tokens")
  }

  /** The APPLY step of substring-span dedup (Lee et al. 2022 cut
    * their found duplicates out of the corpus — [[duplicateSpans]]
    * only finds them): remove every token inside a span from each
    * document's NORMALIZED token stream and rejoin with single
    * spaces. Positions are 1-based in the same normalized
    * tokenization [[duplicateSpans]] emits, so the two compose
    * directly; documents without spans pass through rebuilt from
    * their normalized tokens (the op re-tokenizes, it does not
    * preserve original whitespace/punctuation). Returns
    * (doc_id, n_tokens, n_removed, cleaned) — total over the input.
    *
    * Scale shape: spans collapse to one bounded per-doc array (spans
    * per doc are few by construction — they merge on overlap), the
    * join back is id-keyed and narrow on the spans side, and the cut
    * itself is a per-row Column program (indexed transform + exists
    * filter), no shuffle beyond the one spans join.
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame = {
    val perDoc = spans
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("__spans"))
    val emptySpans = array().cast("array<struct<s:bigint,e:bigint>>")
    df.select(col(idCol).as("doc_id"),
        // a whitespace-only doc normalizes to "" and would split to
        // [""] — report it as zero tokens instead
        when(length(TextAnalysis.normalize(col(textCol))) === 0,
          array().cast("array<string>"))
          .otherwise(split(TextAnalysis.normalize(col(textCol)), " "))
          .as("__w"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("__spans", coalesce(col("__spans"), emptySpans))
      .withColumn("__kept", expr(
        """transform(
          |  filter(transform(__w, (t, i) -> struct(t AS t, i + 1 AS p)),
          |    x -> NOT exists(__spans, sp -> x.p >= sp.s AND x.p <= sp.e)),
          |  x -> x.t)""".stripMargin))
      .select(col("doc_id"),
        size(col("__w")).cast("long").as("n_tokens"),
        (size(col("__w")) - size(col("__kept"))).cast("long").as("n_removed"),
        array_join(col("__kept"), " ").as("cleaned"))
  }

  /** Keep-best representative selection: given the full corpus and a
    * near-duplicate clustering (the `(id, component)` output of
    * [[connectedComponents]] / [[connectedComponentsStar]]), elect ONE
    * document per cluster — the argmax of `scoreCol`, ties broken by
    * lowest id — instead of the blind min-id representative exact
    * dedup uses. This is the "soft dedup" step real pipelines run:
    * near-dup groups keep their highest-quality member, and documents
    * in no cluster survive as their own singleton.
    *
    * One broadcast-or-shuffle left join (the clustering table holds
    * only clustered ids — usually a small fraction of the corpus) plus
    * one window hash-partitioned by cluster: no global ordering, no
    * per-key materialization beyond the window's sort of each
    * cluster's handful of rows. Scales linearly.
    *
    * Returns the corpus columns plus `cluster` and boolean `keep`.
    */
  def keepBest(docs: DataFrame, idCol: String, components: DataFrame,
      scoreCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = components
      .select(col("id").as(idCol), col("component"))
    val clustered = docs
      .join(comp, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("component"), col(idCol).cast("long")))
      .drop("component")
    val w = Window.partitionBy("cluster")
      .orderBy(scoreCol.desc, col(idCol).asc)
    clustered
      .withColumn("keep", row_number().over(w) === 1)
  }

  /** LSH banding planner: given a target Jaccard threshold and a
    * signature budget, choose (bands, rowsPer) whose S-curve
    * inflection (1/b)^(1/r) sits closest to the target (log-scale
    * distance; smaller b breaks ties), and emit the full candidate
    * curve P(candidate | s) = 1 − (1 − s^r)^b over a similarity
    * grid — the design table consulted BEFORE a banding change
    * ships, with [[lshQualityReport]] as the after-the-fact measure.
    * Uses only exact divisions of the budget (b·r = nHashes — a
    * partial band would hash fewer rows and lie about the curve).
    * Returns (bands, rows_per, t_star, s, p_candidate) — one row per
    * grid point, the chosen plan repeated.
    *
    * Scale shape: entirely grid arithmetic on an explode of the
    * divisor set; nothing touches data.
    */
  def lshPlan(spark: org.apache.spark.sql.SparkSession,
      threshold: Double, nHashes: Int,
      sGrid: Seq[Double] =
        (1 to 19).map(_ * 0.05)): org.apache.spark.sql.DataFrame = {
    require(threshold > 0 && threshold < 1,
      s"threshold in (0,1), got $threshold")
    require(nHashes >= 2, s"nHashes must be >= 2, got $nHashes")
    import spark.implicits._
    val grid = Seq(nHashes).toDF("nh")
      .select(explode(sequence(lit(1), lit(nHashes))).as("b"),
        col("nh"))
      .filter(col("nh") % col("b") === 0)
      .select(col("b"), (col("nh") / col("b")).cast("int").as("r"))
      .withColumn("t_star", pow(lit(1.0) / col("b"),
        lit(1.0) / col("r")))
      .withColumn("dist", abs(log(col("t_star")) - math.log(threshold)))
    val best = grid.orderBy(col("dist"), col("b")).limit(1)
    best.select(col("b").as("bands"), col("r").as("rows_per"),
        col("t_star"), explode(lit(sGrid.toArray)).as("s"))
      .select(col("bands"), col("rows_per"), col("t_star"), col("s"),
        (lit(1.0) - pow(lit(1.0) - pow(col("s"), col("rows_per")),
          col("bands"))).as("p_candidate"))
  }
}
