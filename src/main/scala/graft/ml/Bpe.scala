package graft.ml

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Lineage

/** Distributed BPE (byte-pair-encoding) vocabulary induction — the
  * tokenizer-training step of a pretraining pipeline.
  *
  * Shape matters more than the loop body: the corpus is reduced ONCE
  * to a (word, count) frequency table (one shuffle over the token
  * stream — the only pass whose cost scales with corpus size), and all
  * `nMerges` iterations then run over that small vocabulary table.
  * Each iteration is one partial/final aggregation over weighted
  * symbol pairs plus a broadcast-applied merge; lineage is cut by
  * re-persisting the symbol table each round (the reference's
  * iterative-job idiom, Job.next / examples/PageRank.scala:54-81,
  * restated as a driver loop).
  *
  * Determinism contract: merge selection orders by (count desc, left
  * asc, right asc), so the learned merge list is exactly reproducible
  * — the gate can hash it.
  */
object Bpe {

  /** End-of-word sentinel appended to each word's symbol sequence
    * (standard BPE, so merges don't cross word boundaries).
    */
  val Eow = "</w>"

  final case class Merge(rank: Int, left: String, right: String)

  /** A word's initial symbol sequence: one symbol per Unicode CODE
    * POINT (+ the end-of-word sentinel). Splitting on code units would
    * shear supplementary-plane characters (emoji, rare CJK) into lone
    * surrogates — symbols no other engine (the SQL oracle slices
    * per-character) would ever produce.
    */
  def charSymbols(word: String): Array[String] = {
    val out = new Array[String](word.codePointCount(0, word.length) + 1)
    var i = 0; var k = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      val n = Character.charCount(cp)
      out(k) = word.substring(i, i + n)
      i += n; k += 1
    }
    out(k) = Eow
    out
  }

  /** Strict UTF-8 byte-wise less-than — the collation Spark's
    * UTF8String ordering and DuckDB's binary string comparison both
    * use. The driver-local trainer must tie-break with THIS, not
    * Scala's UTF-16 `<`, or the two training paths could order
    * count-tied pairs differently on supplementary-plane symbols.
    */
  private[graft] def ltUtf8(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** Learn `nMerges` merges from a corpus of documents. */
  def train(docs: Dataset[String], nMerges: Int): Seq[Merge] = {
    val spark = docs.sparkSession
    val words = wordCounts(docs)
    trainFromCounts(spark, words, nMerges)
  }

  /** One corpus-sized pass: whitespace words of normalized text →
    * (word, count). Everything after this runs on the vocabulary.
    */
  def wordCounts(docs: Dataset[String]): Dataset[(String, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap(t => t.toLowerCase(java.util.Locale.ROOT).split("\\s+").iterator.filter(_.nonEmpty))
      .groupByKey(identity).count()
  }

  /** The merge loop over a (word, count) table, batched: each Spark
    * round learns up to `batchCap` merges at once while remaining
    * byte-identical to the sequential (one-merge-per-job) semantics.
    * At a realistic 32k-merge vocabulary this is the difference
    * between 32k driver round-trips and a few hundred.
    *
    * A batch is a provably-independent prefix of the round's ranked
    * pair list (count desc, left asc, right asc):
    *
    *  - prefix, not skip: the walk stops at the FIRST pair that
    *    conflicts with an already-selected one. Skipping it and
    *    continuing would be unsound — a skipped high-count pair may
    *    survive the earlier merges untouched and out-rank later
    *    selections in the true sequential order.
    *  - conflict = cross-share or mint-collision with a selected pair
    *    (l_i, r_i): candidate (l, r) conflicts iff r_i == l or
    *    l_i == r (chained occurrences "l_i r_i=l r" / "l r=l_i r_i"
    *    share a token, so the earlier merge consumes candidate
    *    occurrences) or l/r equals a minted l_i+r_i (the earlier
    *    merge grows the candidate's count mid-batch). Sharing ONLY a
    *    left symbol (or only a right, e.g. two pairs both ending in
    *    the end-of-word sentinel) is NOT a conflict: such occurrence
    *    sets are token-disjoint — the shared left is followed by
    *    exactly one right per occurrence — so the merges commute and
    *    neither count moves. This is what keeps batches large: the
    *    many (x, </w>) pairs at the top of a round's ranking all
    *    batch together.
    *  - a selected pair whose merged symbol already exists in the
    *    vocabulary (possible via convergent merge paths, e.g. a+bc
    *    and ab+c both minting "abc") closes the batch: merging it
    *    inflates existing pairs that contain that symbol, so nothing
    *    may be applied after it within the round.
    *  - a selected SELF-pair (a,a) also closes the batch: runs of the
    *    symbol mint pairs like (aa,aa) and (aa,a) whose counts are
    *    bounded by the self-pair's own count — above the excluded
    *    bound the next rule relies on.
    *  - every selection after the first must have count STRICTLY
    *    above the first excluded pair's count. Any pair outside the
    *    batch holds count ≤ that bound throughout the batch (counts
    *    of untouched pairs never grow; newly-minted pairs are bounded
    *    by a conflicting — hence excluded — neighbor pair's count),
    *    so each selection is still the unique sequential argmax at
    *    its step.
    *
    * Each round is one partial/final aggregation over the vocabulary
    * plus one map to apply the whole batch; lineage is truncated by a
    * [[Lineage.cut]] per round (the reference's iterative-job idiom,
    * Job.next / examples/PageRank.scala:54-81, as a driver loop).
    */
  def trainFromCounts(spark: SparkSession, words: Dataset[(String, Long)],
      nMerges: Int, batchCap: Int = 64,
      localVocabThreshold: Long = 1000000L): Seq[Merge] = {
    // Hybrid dispatch: the corpus-sized work is already done (words is
    // the one-shuffle frequency table); when the DISTINCT-WORD table
    // fits on the driver — the common case even for very large corpora,
    // and how production tokenizer trainers are built — train locally
    // with incremental pair-count maintenance: zero further Spark jobs
    // instead of a driver round-trip per merge round. The distributed
    // batched loop below remains the path for unbounded vocabularies
    // (threshold 0 forces it). The table is persisted across the
    // dispatch so the count probe and the chosen path share one
    // computation of the corpus-sized shuffle.
    if (localVocabThreshold <= 0)
      trainDistributed(spark, words, nMerges, batchCap)
    else {
      val w = words.persist()
      try {
        if (w.count() <= localVocabThreshold) trainLocal(w.collect(), nMerges)
        else trainDistributed(spark, w, nMerges, batchCap)
      } finally w.unpersist(blocking = false)
    }
  }

  /** Exact sequential BPE over a collected (word, count) table with
    * incremental pair-count updates: each merge touches only the words
    * that contain the merged pair (tracked by an occurrence index), so
    * cost is O(affected words) per merge, not O(vocabulary).
    * Byte-identical to the distributed path by construction (same
    * (count desc, left asc, right asc) selection).
    */
  def trainLocal(wordCounts: Array[(String, Long)], nMerges: Int): Seq[Merge] = {
    val syms = wordCounts.map { case (w, _) => charSymbols(w) }
    val cnts = wordCounts.map(_._2)
    val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val occ = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.HashSet[Int]]

    def addWord(i: Int, sign: Long): Unit = {
      val s = syms(i); val c = cnts(i) * sign
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        val n = pairCounts.getOrElse(p, 0L) + c
        if (n == 0L) pairCounts.remove(p) else pairCounts.update(p, n)
        if (sign > 0)
          occ.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty) += i
        j += 1
      }
      // stale occ entries (word no longer holds the pair) are lazily
      // skipped at merge time — cheaper than eager removal
    }
    syms.indices.foreach(addWord(_, 1L))

    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    while (merges.size < nMerges && pairCounts.nonEmpty) {
      var best: (String, String) = null
      var bestN = Long.MinValue
      pairCounts.foreach { case (p, n) =>
        if (n > bestN || (n == bestN &&
            (ltUtf8(p._1, best._1) ||
              (p._1 == best._1 && ltUtf8(p._2, best._2))))) {
          best = p; bestN = n
        }
      }
      val (l, r) = best
      merges += Merge(merges.size, l, r)
      val hit = occ.getOrElse(best, scala.collection.mutable.HashSet.empty)
      hit.foreach { i =>
        val s = syms(i)
        var contains = false
        var j = 0
        while (!contains && j < s.length - 1) {
          if (s(j) == l && s(j + 1) == r) contains = true
          j += 1
        }
        if (contains) { // skip stale index entries
          addWord(i, -1L)
          syms(i) = applyMerge(s, l, r)
          addWord(i, 1L)
        }
      }
      occ.remove(best)
      pairCounts.remove(best) // greedy application zeroes it by construction
    }
    merges.toSeq
  }

  /** The distributed batched merge loop — see [[trainFromCounts]]. */
  private def trainDistributed(spark: SparkSession,
      words: Dataset[(String, Long)], nMerges: Int, batchCap: Int): Seq[Merge] = {
    import spark.implicits._
    require(batchCap >= 1, s"batchCap must be >= 1, got $batchCap")

    // the cut truncates the LOGICAL plan each round, not just caches
    // it — persist()+count() leaves the lineage growing one map per
    // round, and at a few hundred rounds the accumulated tree OOMs
    // Spark's own plan rendering (AQE explains the plan on every
    // update). The merge table is driver state, so the loop drives
    // itself and releases each superseded round.
    var symbols: Dataset[(Array[String], Long)] = Lineage.cut(words
      .map { case (w, c) => (charSymbols(w), c) })

    // the vocabulary's symbol strings: initial alphabet ∪ minted
    // merges — consulted for the convergent-path batch guard
    val known = scala.collection.mutable.HashSet.empty[String]
    known ++= symbols.flatMap(_._1.iterator).distinct().collect()

    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var done = false
    while (merges.size < nMerges && !done) {
      val cap = math.min(batchCap, nMerges - merges.size)
      // weighted adjacent-pair counts: partial/final agg, vocabulary-
      // sized shuffle; TakeOrderedAndProject keeps the global top
      // (cap+1) without materializing a full sort. The +1 row is the
      // first EXCLUDED pair — its count bounds the safe batch.
      val top = symbols.flatMap { case (syms, c) =>
        (0 until syms.length - 1).iterator.map(j => (syms(j), syms(j + 1), c))
      }
        .toDF("l", "r", "c")
        .groupBy("l", "r").agg(sum("c").as("n"))
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .head(cap + 1)
        .map(row => (row.getString(0), row.getString(1), row.getLong(2)))

      if (top.isEmpty) done = true
      else {
        val batch = selectBatch(top, cap, known)
        batch.foreach { case (l, r, _) =>
          merges += Merge(merges.size, l, r)
          known += l + r
        }
        // left -> (right -> merged): several batch members may share
        // a left (their occurrences are token-disjoint), so the merge
        // table is keyed twice
        val byLeft: Map[String, Map[String, String]] = batch
          .groupBy(_._1)
          .map { case (l, ms) =>
            l -> ms.map { case (_, r, _) => r -> (l + r) }.toMap
          }
        val next = Lineage.cut(symbols
          .map { case (syms, c) => (applyMerges(syms, byLeft), c) })
        Lineage.release(symbols)
        symbols = next
      }
    }
    Lineage.release(symbols)
    merges.toSeq
  }

  /** The longest sequential-equivalent batch: a prefix of `ranked`
    * (already in (count desc, left asc, right asc) order, length ≤
    * cap+1) that is pairwise independent, closed at any merge minting
    * a pre-existing symbol, and truncated to counts strictly above
    * the first excluded pair's. The head pair — the true sequential
    * argmax — is always selected.
    */
  private[graft] def selectBatch(ranked: Array[(String, String, Long)], cap: Int,
      known: scala.collection.Set[String]): Array[(String, String, Long)] = {
    val sel = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val lefts = scala.collection.mutable.HashSet.empty[String]
    val rights = scala.collection.mutable.HashSet.empty[String]
    val mints = scala.collection.mutable.HashSet.empty[String]
    var idx = 0
    var open = true
    while (open && idx < ranked.length && sel.size < cap) {
      val (l, r, n) = ranked(idx)
      val minted = l + r
      // (a candidate minting a pre-existing symbol — including any
      // selected pair's left/right — is admitted and then closes the
      // batch via the known-mint guard below)
      val conflict = sel.nonEmpty &&
        (rights(l) || lefts(r) || mints(l) || mints(r))
      if (conflict) open = false
      else {
        sel += ((l, r, n))
        lefts += l; rights += r
        // a duplicate in-batch mint (e.g. (a,bc) and (ab,c) both
        // minting "abc") is admitted but closes the batch: after both
        // merges a pair (x,abc) would accumulate count from BOTH
        // sources (up to 2x the truncation bound), so later selections
        // could diverge from the sequential argmax order. Two distinct
        // pairs concatenating to the same symbol in the SAME round is
        // believed unreachable — both counts > 0 would need two
        // different token tilings of the same substring, but batch
        // application is one deterministic greedy pass, so every
        // boundary-intact occurrence of a string tiles identically
        // (and a boundary-crossed one is never exactly tileable again,
        // tokens only grow) — the guard is a one-lookup invariant belt.
        val dupMint = mints(minted)
        mints += minted
        if (dupMint || known(minted)) open = false // convergent-path mint: close batch
        // self-pair: merging (a,a) mints pairs like (aa,aa) and (aa,a)
        // from runs, whose counts are bounded by THIS pair's own count
        // — not by any excluded pair — so nothing may apply after it
        // within the round (same closure as the known-mint guard)
        if (l == r) open = false
        idx += 1
      }
    }
    if (ranked.length > sel.size) {
      // strict-dominance truncation: selections after the first must
      // out-count the best pair left outside the batch (ties could
      // re-order under the excluded pair's mid-batch count changes)
      val bound = ranked(sel.size)._3
      val keep = 1 + sel.view.drop(1).takeWhile(_._3 > bound).size
      sel.take(keep).toArray
    } else sel.toArray // the batch holds every existing pair: no
                       // outside pair can interleave
  }

  /** Apply a batch of pairwise-independent merges in one left-to-right
    * greedy pass — for a single merge this is exactly [[applyMerge]];
    * token-disjoint occurrence sets make the batch order-insensitive.
    * At most one merge can fire at a position (the (left, right) token
    * pair picks it uniquely).
    */
  private def applyMerges(syms: Array[String],
      byLeft: Map[String, Map[String, String]]): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var j = 0
    while (j < syms.length) {
      val rs = if (j < syms.length - 1) byLeft.getOrElse(syms(j), null) else null
      val merged = if (rs != null) rs.getOrElse(syms(j + 1), null) else null
      if (merged != null) { out += merged; j += 2 }
      else { out += syms(j); j += 1 }
    }
    out.toArray
  }

  /** Replace every adjacent (l, r) with l+r, left-to-right greedy —
    * the standard single-merge application.
    */
  def applyMerge(syms: Array[String], l: String, r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
        out += (l + r); j += 2
      } else { out += syms(j); j += 1 }
    }
    out.toArray
  }

  /** Segment a word with a learned merge list (ranked greedy: apply
    * merges in rank order) — the encode side of the tokenizer.
    */
  def encodeWord(word: String, merges: Seq[Merge]): Array[String] = {
    var syms = charSymbols(word.toLowerCase(java.util.Locale.ROOT))
    merges.sortBy(_.rank).foreach(m => syms = applyMerge(syms, m.left, m.right))
    syms
  }

  /** BPE-dropout segmentation (Provilkov et al. 2020), deterministic
    * form: like [[encodeWord]] but each merge application is SKIPPED
    * with probability `rate`, decided by an md5 coin on (salt, word,
    * occurrence, merge rank) — subword regularization whose sampled
    * segmentations are reproducible dataset artifacts, not run
    * artifacts. `occurrence` distinguishes repeats of the same word
    * so a document's copies draw different coins.
    */
  def encodeWordDropout(word: String, merges: Seq[Merge], rate: Double,
      occurrence: Long = 0L, salt: String = "bd"): Array[String] = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    val thr = Profile.strongThreshold(rate)
    var syms = charSymbols(word.toLowerCase(java.util.Locale.ROOT))
    merges.sortBy(_.rank).foreach { m =>
      val coin = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt:$word:$occurrence:${m.rank}".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      if (coin >= thr) syms = applyMerge(syms, m.left, m.right)
    }
    syms
  }

  /** Distributed BPE-dropout application: one shuffle-free
    * mapPartitions scan like [[encode]], but each word occurrence
    * draws its own per-merge coins (no memoization — the coins are
    * occurrence-keyed by design). Returns (id, tokens).
    */
  def encodeDropout(docs: Dataset[(Long, String)], merges: Seq[Merge],
      rate: Double, salt: String = "bd"): Dataset[(Long, Array[String])] = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    val spark = docs.sparkSession
    import spark.implicits._
    val ms = merges.sortBy(_.rank)
    docs.mapPartitions { it =>
      it.map { case (id, text) =>
        val seen = new java.util.HashMap[String, Long]()
        val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+")
          .iterator.filter(_.nonEmpty).flatMap { w =>
            val occ = seen.merge(w, 1L, _ + _) - 1L
            encodeWordDropout(w, ms, rate, occ, salt)
          }.toArray
        (id, toks)
      }
    }
  }

  /** Distributed tokenizer application: encode every document with a
    * learned merge list. Returns (id, tokens).
    *
    * Scale shape: the ranked merge table is tiny (`nMerges` rows) and
    * ships inside the task closure, so encoding is a single
    * mapPartitions scan — no shuffle at any corpus size. Within a
    * partition the per-word merge loop is memoized per *distinct*
    * word (capped at 100k entries, the reference's map-side cache
    * constant, GroupBuilder.scala:83), so hot vocabulary words are
    * segmented once per partition rather than once per occurrence.
    */
  def encode(docs: Dataset[(Long, String)],
      merges: Seq[Merge]): Dataset[(Long, Array[String])] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranked = merges.sortBy(_.rank).map(m => (m.left, m.right)).toArray
    docs.mapPartitions { it =>
      val memo = new java.util.HashMap[String, Array[String]]()
      def enc(word: String): Array[String] = {
        val hit = memo.get(word)
        if (hit != null) hit
        else {
          var syms = charSymbols(word)
          var i = 0
          while (i < ranked.length) {
            syms = applyMerge(syms, ranked(i)._1, ranked(i)._2); i += 1
          }
          if (memo.size < 100000) memo.put(word, syms)
          syms
        }
      }
      it.map { case (id, text) =>
        (id, text.toLowerCase(java.util.Locale.ROOT).split("\\s+").iterator
          .filter(_.nonEmpty).flatMap(enc).toArray)
      }
    }
  }
}
