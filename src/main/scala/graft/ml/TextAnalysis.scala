package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting. All
  * are pure Column expressions — codegen'd, pushdown-friendly, no
  * UDFs — so they run at full scan speed over 100 TB of documents.
  */
object TextAnalysis {

  /** Whitespace tokens of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0).otherwise(size(tokens(text)))

  /** BPE-ish subword count estimate: word-piece runs + digits +
    * punctuation, the standard pre-tokenizer shape (letters runs,
    * digit runs, single punctuation marks).
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Canonical normalization used by fingerprinting/dedup: lowercase,
    * strip non-alphanumerics to spaces, collapse whitespace.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Document fingerprint: md5 of the normalized text — a stable
    * content address for exact dedup at any scale.
    */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** Vocabulary-richness profile per stratum over the word frequency
    * spectrum: token count N, type count V, hapax legomena (count +
    * share of types), Yule's K = 10⁴·(Σc² − N)/N² and Simpson's
    * repeat rate D = Σc(c−1)/(N(N−1)) — the size-robust "is this
    * source repetitive boilerplate or diverse prose" reads (K ≈ 100
    * for natural English, K in the thousands for templated text).
    * Every statistic is a ratio of INTEGER sums, so any replay
    * produces the identical double.
    *
    * Scale shape: one normalized-token explode + two hash aggregates
    * — the unigram-LM count shape with a richer present step.
    */
  def vocabularyRichness(df: DataFrame, stratumCol: String,
      textCol: String): DataFrame =
    df.select(col(stratumCol).as("stratum"),
        explode(split(normalize(col(textCol)), " ")).as("tk"))
      .filter(length(col("tk")) > 0)
      .groupBy("stratum", "tk").agg(count(lit(1)).as("c"))
      .groupBy("stratum")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(col("c") * col("c")).as("__sq"),
        sum(col("c") * (col("c") - 1)).as("__rep"))
      .select(col("stratum"), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        (col("n_hapax").cast("double") / col("n_types"))
          .as("hapax_share"),
        (lit(1e4) * (col("__sq") - col("n_tokens")).cast("double") /
          (col("n_tokens").cast("double") *
            col("n_tokens").cast("double"))).as("yule_k"),
        when(col("n_tokens") > 1,
          col("__rep").cast("double") /
            (col("n_tokens").cast("double") *
              (col("n_tokens") - 1).cast("double"))).as("simpson"))

  /** Quality components: character count, word count, mean word
    * length, punctuation ratio, stopword ratio, and a composite score
    * in [0,1]. Heuristics follow the public C4/Gopher-style filters.
    */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "be", "this")

  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0).otherwise(
      size(regexp_extract_all(text, lit("[\\p{Punct}]"), lit(0))).cast("double")
        / length(text))

  /** Component forms over a precomputed token array — tokenize once
    * per row, reuse across all metrics (CollapseProject keeps
    * non-cheap duplicated aliases materialized, so the split really
    * happens once).
    */
  def stopwordRatioOf(toks: Column): Column =
    when(size(toks) === 0, 0.0).otherwise(
      size(filter(toks, t => lower(t).isInCollection(stopwords))).cast("double")
        / size(toks))

  def meanWordLengthOf(toks: Column): Column =
    when(size(toks) === 0, 0.0).otherwise(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double")
        / size(toks))

  def stopwordRatio(text: Column): Column = stopwordRatioOf(tokens(lower(text)))

  def meanWordLength(text: Column): Column = meanWordLengthOf(tokens(text))

  /** Composite quality score in [0,1] from precomputed tokens +
    * the raw text (for the punctuation component).
    */
  def qualityScoreOf(toks: Column, text: Column): Column =
    qualityFromComponents(size(toks), meanWordLengthOf(toks),
      stopwordRatioOf(toks), punctRatio(text))

  /** Scoring from already-materialized scalar components — lets a
    * pipeline compute each component once in its own (small) codegen
    * stage instead of one giant expression tree.
    */
  def qualityFromComponents(nWords: Column, mwl: Column, stopRatio: Column,
      punct: Column): Column = {
    val lenOk = when(nWords.between(10, 100000), 1.0).otherwise(0.3)
    val mwlOk = when(mwl.between(2.0, 12.0), 1.0).otherwise(0.4)
    val stopOk = when(stopRatio > 0.05, 1.0).otherwise(0.6)
    val punctOk = when(punct < 0.2, 1.0).otherwise(0.5)
    (lenOk * 0.3 + mwlOk * 0.2 + stopOk * 0.3 + punctOk * 0.2)
  }

  /** Composite quality score in [0,1]: rewards sane length, word
    * shape and some stopword presence; punishes punctuation soup.
    * Heuristics follow the public C4/Gopher-style filters.
    */
  def qualityScore(text: Column): Column = qualityScoreOf(tokens(text), text)

  /** Winnowing document fingerprints (Schleimer et al. '03): rolling
    * polynomial hash over word k-grams, then the minimum hash of each
    * sliding window of `w` hashes (rightmost-min rule). Near-identical
    * documents share most fingerprints; exact copies share all.
    * Typed kernel — one pass, primitive arithmetic.
    */
  def winnowingFingerprints(text: String, k: Int = 3, w: Int = 4): Array[Long] = {
    // shares Dedup's precompiled normalizer — String.replaceAll would
    // recompile its regex per document
    val words = graft.ml.Dedup.MinHashUtil.normalize(text).split(" ")
    if (words.isEmpty) return Array.empty
    val B = 1000003L
    // rolling hash over word-hash sequences
    val wordHashes = words.map { s =>
      import scala.util.hashing.MurmurHash3
      MurmurHash3.stringHash(s, 0x51ab2e4d).toLong & 0xffffffffL
    }
    val n = math.max(wordHashes.length - k + 1, 1)
    val grams = new Array[Long](n)
    var pow = 1L
    (1 until k).foreach(_ => pow *= B)
    var h = 0L
    var i = 0
    while (i < math.min(k, wordHashes.length)) { h = h * B + wordHashes(i); i += 1 }
    grams(0) = h
    i = 1
    while (i < n) {
      h = (h - wordHashes(i - 1) * pow) * B + wordHashes(i + k - 1)
      grams(i) = h
      i += 1
    }
    // winnow: min per window, dedup consecutive picks
    if (grams.length <= w) Array(grams.min)
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      var j = 0
      while (j + w <= grams.length) {
        var m = grams(j)
        var mi = j
        var x = j
        while (x < j + w) {
          if (grams(x) <= m) { m = grams(x); mi = x }
          x += 1
        }
        if (out.isEmpty || out.last != m || mi == j + w - 1) {
          if (out.isEmpty || out.last != m) out += m
        }
        j += 1
      }
      out.distinct.toArray
    }
  }

  /** EXACT corpus heavy hitters at sketch cost: every term whose
    * frequency exceeds total/denom, with its exact count. Two linear
    * passes, neither of which shuffles the vocabulary:
    *
    *  1. a Misra-Gries [[graft.agg.FreqSketch]] global aggregation —
    *     map-side partials carry at most 2k counters per task, and the
    *     merged sketch provably contains every term with true count >
    *     total/(k+1) ⊇ the requested threshold (requires denom <= k);
    *  2. an exact count of ONLY the <= 2k candidate terms (an InSet
    *     filter reaches the scan), so the groupBy shuffles a bounded
    *     set no matter how large the vocabulary is.
    *
    * Because pass 2 is exact and pass 1 cannot miss a qualifying term,
    * the result equals the full exact `GROUP BY term HAVING
    * count(*) * denom > total` — at a fraction of its shuffle. The
    * naive form shuffles the whole vocabulary (the classic wordcount
    * weakness at 100 TB); this form ships ~k counters per task.
    */
  def heavyHitters(tokens: Dataset[String], k: Int, denom: Long): DataFrame = {
    require(denom <= k,
      s"no-false-negative guarantee needs denom <= k, got denom=$denom k=$k")
    val sk = tokens.select(graft.agg.FreqSketch.aggregator(k).toColumn).head()
    val candidates = sk.counters.keySet
    tokens.filter(col("value").isInCollection(candidates))
      .groupBy(col("value").as("term"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * denom > sk.total)
  }

  // ===== repetition filters (Gopher-style, Rae et al. '21 §A1.1) =====
  // Natural documents repeat little; boilerplate and spam repeat a
  // lot. Both metrics are pure per-row Column expressions — no
  // shuffle, no UDF — so a 100 TB quality pass stays a single scan.

  /** Fraction of tokens that are repeats of an earlier token:
    * `1 - |distinct| / |tokens|`. 0 for an empty document.
    */
  def duplicateTokenFraction(toks: Column): Column =
    when(size(toks) <= 0, 0.0).otherwise(
      (size(toks) - size(array_distinct(toks))).cast("double") / size(toks))

  /** Adjacent word bigrams of a token array (`["a","b","c"]` →
    * `["a b","b c"]`); empty below 2 tokens.
    */
  def bigramsOf(toks: Column): Column =
    when(size(toks) < 2, array().cast("array<string>")).otherwise(
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b)))

  /** Fraction of bigram occurrences taken by the single most common
    * bigram (the Gopher "top 2-gram" signal), over a PRE-MATERIALIZED
    * bigram column. Computed by sorting the row's bigram array and
    * folding the longest equal run — O(d log d) per document instead
    * of the O(d²) count-per-distinct form. Pass an attribute (a
    * `withColumn("g", bigramsOf(toks))` output), not the raw
    * `bigramsOf(...)` expression: this column is referenced three
    * times, and an inline expression would re-run tokenize+zip per
    * reference.
    */
  def topBigramFractionOf(g: Column): Column = {
    val zero = struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best"))
    val folded = aggregate(array_sort(g), zero, (st, x) => {
      val run = when(x === st.getField("prev"), st.getField("run") + 1L)
        .otherwise(lit(1L))
      struct(x.as("prev"), run.as("run"),
        greatest(st.getField("best"), run).as("best"))
    })
    when(size(g) <= 0, 0.0)
      .otherwise(folded.getField("best").cast("double") / size(g))
  }

  /** Convenience form over a token array; prefer materializing
    * [[bigramsOf]] as its own column and calling
    * [[topBigramFractionOf]] in wide scans.
    */
  def topBigramFraction(toks: Column): Column =
    topBigramFractionOf(bigramsOf(toks))

  // ===== PII scrubbing =====
  // Conservative patterns expressible identically in Java regex and
  // RE2 (no lookaround, no backreferences) so an external SQL engine
  // replays the scrub byte-for-byte.

  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  val ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Per-document PII hit counts as (n_email, n_phone, n_ip). Counted
    * on the RAW text (before scrubbing), email first — the same
    * precedence [[scrubPii]] applies.
    */
  def piiCounts(text: Column): Column = {
    def n(p: String) = size(regexp_extract_all(text, lit(p), lit(0)))
    struct(n(emailPattern).as("n_email"),
      n(phonePattern).as("n_phone"),
      n(ipv4Pattern).as("n_ip"))
  }

  /** Replace emails, then phone numbers, then IPv4 addresses with
    * typed placeholder tokens. Email runs first so a numeric mail
    * domain is never half-eaten by the IP pattern.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        phonePattern, "<PHONE>"),
      ipv4Pattern, "<IP>")

  /** Rule-based sentence segmentation: split after [.!?] followed by
    * whitespace and an uppercase/digit/quote opener, protecting
    * common abbreviations (Mr./Dr./e.g./i.e./No./Fig. …) and decimal
    * points — the boundary detector behind sentence-aligned chunking
    * (chunk at sentence edges, not mid-thought). Pure Column program
    * (three protect passes + one split + restore); Java-regex
    * lookaround stays engine-side only, gates replay expected output
    * arithmetically. Returns an array of trimmed sentences.
    */
  def splitSentences(text: Column): Column = {
    val protect = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, "\\be\\.g\\.", "e\u0001g\u0001"),
          "\\bi\\.e\\.", "i\u0001e\u0001"),
        "\\b(Mr|Mrs|Ms|Dr|Prof|St|vs|No|Fig)\\.", "$1\u0001"),
      "([0-9])\\.([0-9])", "$1\u0001$2")
    // terminator, optionally followed by ONE closing quote/bracket,
    // then whitespace and an opener (bounded lookbehind — Java regex
    // accepts {0,1} where unbounded lookbehind would be rejected)
    val parts = split(protect,
      "(?<=[.!?][\"')\\]]{0,1})\\s+(?=[\"'A-Z0-9])")
    filter(transform(parts,
      p => trim(regexp_replace(p, "\u0001", "."))), p => length(p) > 0)
  }

  /** Payment-card candidates: 13-19 digits, single optional space or
    * hyphen between digits (covers the common 4-4-4-4 groupings). A
    * regex alone over-fires on any long number — [[luhnValid]] is the
    * validation gate that makes the count a usable PII signal.
    */
  val cardPattern = "\\b[0-9](?:[ -]?[0-9]){12,18}\\b"

  /** Luhn (mod-10) checksum validity of a candidate card string —
    * the ISO/IEC 7812 check every real PAN passes, which kills the
    * dominant false positives (timestamps, ids, serials). Separators
    * are stripped; from the RIGHTMOST digit every second one is
    * doubled (minus 9 when >9) and the sum must be ≡ 0 (mod 10).
    * Pure Column program (transform + aggregate) — codegen'd, no UDF,
    * replayable in any engine with indexed list lambdas.
    */
  def luhnValid(cand: Column): Column = {
    val ds = regexp_extract_all(regexp_replace(cand, "[ -]", ""),
      lit("[0-9]"), lit(0))
    val n = size(ds)
    val doubled = transform(ds, (ch, i) => {
      val d = ch.cast("int")
      val dd = when(((n - lit(1) - i) % 2) === 1, d * 2).otherwise(d)
      when(dd > 9, dd - 9).otherwise(dd)
    })
    aggregate(doubled, lit(0), (acc, x) => acc + x) % 10 === 0
  }

  /** Count of Luhn-VALID card numbers in `text` (and the raw
    * candidate count, for precision monitoring) as a struct
    * (n_candidate, n_card).
    */
  def cardCounts(text: Column): Column = {
    val cands = regexp_extract_all(text, lit(cardPattern), lit(0))
    struct(size(cands).as("n_candidate"),
      size(filter(cands, luhnValid _)).as("n_card"))
  }

  /** Replace every Luhn-valid card number with `<CARD>` — a literal
    * fold over the validated candidates, so invalid long numbers
    * (order ids, timestamps) survive untouched; complements
    * [[scrubPii]]'s regex-only scrubs with checksum-gated scrubbing.
    */
  def scrubCards(text: Column): Column =
    aggregate(
      filter(regexp_extract_all(text, lit(cardPattern), lit(0)),
        luhnValid _),
      text, (acc, c) => replace(acc, c, lit("<CARD>")))

  /** Marker-word profiles for the n-gram language-ID heuristic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "es" -> Seq("el", "los", "las", "una", "es", "y", "que", "para"),
    "fr" -> Seq("le", "les", "des", "est", "et", "une", "pour", "dans"),
    "en" -> Seq("the", "a", "and", "is", "of", "to", "that", "with"))

  /** Language ID: score = marker-word hits per language; CJK
    * codepoints short-circuit to zh; deterministic tie-break by score
    * then alphabetical. A heuristic n-gram classifier as a pure
    * expression tree — no model, no UDF.
    */
  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    def score(markers: Seq[String]): Column =
      size(filter(toks, t => t.isInCollection(markers)))
    val scored = langMarkers.map { case (lang, ms) =>
      struct(score(ms).as("s"), lit(lang).as("l"))
    }
    val best = array_max(array(scored: _*))
    val hasCjk = size(regexp_extract_all(text, lit("[\\u4e00-\\u9fff]"), lit(0))) > 0
    when(hasCjk, "zh")
      .when(best.getField("s") > 0, best.getField("l"))
      .otherwise("unknown")
  }

  /** Per-script character counts — the writing-system profile used by
    * CCNet-style pipelines to validate declared language tags, route
    * per-script tokenizers, and drop script-mixed spam. One struct of
    * codegen'd regexp counts per row; no shuffle, no UDF. Ranges are
    * explicit codepoint intervals (not \p{script} names) so any engine
    * with character-class regex can replay them.
    */
  val scriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z\\u00C0-\\u024F]",
    "cyrillic" -> "[\\u0400-\\u04FF]",
    "greek" -> "[\\u0370-\\u03FF]",
    "arabic" -> "[\\u0600-\\u06FF]",
    "hebrew" -> "[\\u0590-\\u05FF]",
    "devanagari" -> "[\\u0900-\\u097F]",
    "cjk" -> "[\\u4E00-\\u9FFF\\u3040-\\u30FF\\u3400-\\u4DBF]",
    "hangul" -> "[\\uAC00-\\uD7AF\\u1100-\\u11FF]")

  def scriptProfile(text: Column): Column = {
    def n(p: String) = size(regexp_extract_all(text, lit(p), lit(0)))
    val named = scriptRanges.map { case (name, p) => n(p).as(s"n_$name") }
    struct(named :+ n("[0-9]").as("n_digit") :+
      length(text).as("n_total"): _*)
  }

  /** Dominant script name by character count (ties broken by the
    * [[scriptRanges]] order via strict `>`), "none" for text with no
    * scripted characters — the routing key for per-script pipelines.
    */
  def dominantScript(text: Column): Column = {
    def n(p: String) = size(regexp_extract_all(text, lit(p), lit(0)))
    val scored = scriptRanges.zipWithIndex.map { case ((name, p), i) =>
      // tie-break: earlier range wins via a descending index epsilon
      struct((n(p).cast("double") - lit(i * 1e-9)).as("s"), lit(name).as("l"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("s") > 0, best.getField("l")).otherwise("none")
  }

  /** Count of classic encoding-damage artifacts: UTF-8 bytes decoded
    * as Latin-1 ("Ã©", "â€™", "Â·"-style digraphs) and the U+FFFD
    * replacement character. A nonzero count is the standard signal to
    * re-decode or drop the document (ftfy's detection heuristic,
    * reduced to one codegen'd regexp count).
    */
  def mojibakeCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit("Ã[\\u0080-\\u00BF\\u00A0-\\u00FF]|Â[\\u00A0-\\u00BF]|â€.|ï¿½|�"),
      lit(0)))

  /** Strip C0/C1 control characters (keeping \t \n \r) — the
    * pre-tokenization cleanup that prevents control bytes from
    * leaking into training text. Pure regexp_replace, zero shuffle.
    */
  def stripControlChars(text: Column): Column =
    regexp_replace(text, "[\\u0000-\\u0008\\u000B\\u000C\\u000E-\\u001F\\u007F-\\u009F]", "")

  /** Flesch–Kincaid-style readability grade with engine-replayable
    * approximations: syllables ≈ vowel-group runs, sentences ≈
    * terminal-punctuation runs (min 1), words = whitespace tokens.
    * grade = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59.
    * A standard quality/audience signal; pure Column program.
    */
  def readabilityGrade(text: Column): Column = {
    val words = tokenCount(text).cast("double")
    val sentences = greatest(lit(1),
      size(regexp_extract_all(text, lit("[.!?]+"), lit(0)))).cast("double")
    val syllables =
      size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0)))
        .cast("double")
    when(words > 0,
      lit(0.39) * (words / sentences) + lit(11.8) * (syllables / words)
        - lit(15.59))
  }

  /** Per-document top-k terms by TF-IDF over the input corpus:
    * tf-idf(t, d) = tf(t, d) · (ln((N+1)/(df(t)+1)) + 1) with the
    * smoothed idf, ties broken lexicographically. Returns
    * (doc_id, rank, tk, tf, tfidf) with rank 1..k — the standard
    * keyword-extraction / relevance signal over a corpus.
    *
    * Scale shape: one token-explode scan → (doc, term) counts (hash
    * group-by with map-side partials); document frequency is a second
    * group-by over the already-distinct (doc, term) rows; the idf
    * join shuffles on the term; per-document ranking is a window
    * partitioned by document (documents are the parallel unit, terms
    * per document are bounded). The 1-row corpus count N broadcasts.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = df.select(col(idCol).as("doc_id"),
      explode(split(normalize(col(textCol)), " ")).as("tk"))
      .filter(length(col("tk")) > 0)
    val tf = tok.groupBy("doc_id", "tk").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tk").agg(count(lit(1)).as("df"))
    val n = df.select(countDistinct(col(idCol)).as("n"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("tk"))
    tf.join(dfreq, "tk")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf") * (log((col("n") + 1.0) / (col("df") + 1.0)) + 1.0))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("tk"), col("tf"), col("tfidf"))
  }

  /** Context-sensitive fluency score: mean negative log-likelihood of
    * each document's token *bigrams* under an additively-smoothed
    * bigram model fit on the whole input — one step closer to the
    * KenLM n-gram perplexity CCNet ranks web text with than
    * [[unigramNll]]. p(t | prev) = (c(prev,t) + a) / (c(prev·) + a·V);
    * returns (doc_id, bigram_nll, n_bigrams), documents with fewer
    * than 2 tokens are dropped.
    *
    * Scale shape: bigrams form with one lag window partitioned by
    * document (no self-join of the token stream); bigram and
    * left-context counts are hash group-bys with map-side partials;
    * scoring joins shuffle on (prev, t) then prev — bounded by the
    * bigram vocabulary, not the corpus; the 1-row V total broadcasts.
    */
  def bigramNll(df: DataFrame, idCol: String, textCol: String,
      smoothing: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = df.select(col(idCol).as("doc_id"),
      posexplode(split(normalize(col(textCol)), " ")).as(Seq("pos", "tk")))
      .filter(length(col("tk")) > 0)
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val big = tok.withColumn("prev", lag("tk", 1).over(byDoc))
      .filter(col("prev").isNotNull)
    val vv = tok.agg(countDistinct(col("tk")).as("v"))
    val bc = big.groupBy("prev", "tk").agg(count(lit(1)).as("cb"))
    val pc = bc.groupBy("prev").agg(sum("cb").as("cp"))
    big.join(bc, Seq("prev", "tk"))
      .join(pc, Seq("prev"))
      .crossJoin(broadcast(vv))
      .groupBy("doc_id")
      .agg(avg(-log((col("cb") + smoothing) /
        (col("cp") + col("v") * smoothing))).as("bigram_nll"),
        count(lit(1)).as("n_bigrams"))
  }

  /** Per-document interpolated Kneser–Ney bigram NLL (Kneser & Ney
    * 1995; Chen & Goodman 1999's interpolated form with a fixed
    * absolute discount): the production-grade bigram perplexity
    * signal. Unlike add-k smoothing ([[bigramNll]]), the backoff mass
    * goes to the CONTINUATION unigram P_cont(w) = N1+(·,w) / N1+(··)
    * — how many distinct contexts w completes, not how often it
    * occurs — which stops high-frequency-but-context-bound tokens
    * ("francisco") from soaking up backoff probability:
    *
    *   P(w|v) = max(c(v,w) − d, 0)/c(v) + d·N1+(v,·)/c(v) · P_cont(w)
    *
    * Returns (doc_id, kn_nll, n_bigrams); docs with fewer than 2
    * tokens are dropped.
    *
    * Scale shape: identical to [[bigramNll]] — lag-window bigrams, all
    * four count tables are hash group-bys over the bigram-TYPE table
    * (bounded by vocabulary², not corpus size), scoring joins shuffle
    * on (prev, t) / prev / t, and the 1-row N1+(··) total broadcasts.
    */
  def kneserNeyNll(df: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(discount > 0 && discount < 1, "discount must be in (0, 1)")
    val tok = df.select(col(idCol).as("doc_id"),
      posexplode(split(normalize(col(textCol)), " ")).as(Seq("pos", "tk")))
      .filter(length(col("tk")) > 0)
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val big = tok.withColumn("prev", lag("tk", 1).over(byDoc))
      .filter(col("prev").isNotNull)
    val bc = big.groupBy("prev", "tk").agg(count(lit(1)).as("cb"))
    // distinct continuations of v = row count of v's bigram types
    val pc = bc.groupBy("prev")
      .agg(sum("cb").as("cp"), count(lit(1)).as("n1p"))
    // distinct left contexts completing into w
    val cw = bc.groupBy("tk").agg(count(lit(1)).as("n1w"))
    val tot = bc.agg(count(lit(1)).as("nbt"))
    big.join(bc, Seq("prev", "tk"))
      .join(pc, Seq("prev"))
      .join(cw, Seq("tk"))
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(avg(-log(
        greatest(col("cb").cast("double") - lit(discount), lit(0.0))
          / col("cp")
          + lit(discount) * col("n1p") / col("cp")
          * (col("n1w").cast("double") / col("nbt")))).as("kn_nll"),
        count(lit(1)).as("n_bigrams"))
  }

  /** Per-stratum vocabulary statistics: token count, distinct types,
    * type–token ratio, and the hapax-legomena fraction (types seen
    * exactly once over all types) — the corpus-health numbers behind
    * Heaps'-law growth tracking and "is this source word-soup or
    * natural text" triage. Two hash aggregates ((stratum, token)
    * counts → stratum rollup); no window, no sort.
    */
  def vocabStats(df: DataFrame, strataCol: String,
      textCol: String): DataFrame = {
    val tok = df.select(col(strataCol).as("stratum"),
        explode(split(normalize(col(textCol)), " ")).as("tk"))
      .filter(length(col("tk")) > 0)
    tok.groupBy("stratum", "tk").agg(count(lit(1)).as("c"))
      .groupBy("stratum")
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr",
        col("n_types").cast("double") / col("n_tokens"))
      .withColumn("hapax_frac",
        col("n_hapax").cast("double") / col("n_types"))
  }

  /** Per-stratum Jensen–Shannon divergence between the stratum's
    * unigram distribution P and the corpus-wide distribution Q —
    * the bounded, symmetric "how different does this source read"
    * number (0 = identical, ln 2 = disjoint vocabularies) behind
    * source-mix monitoring and out-of-domain triage. Words absent
    * from the stratum contribute their Q-mass in closed form
    * (q·ln 2 per absent word ⇒ ln 2 · (1 − Σ_present q)), so the
    * whole computation is word-keyed joins over the (stratum, word)
    * count table — never a stratum × vocabulary cross product.
    *
    * Scale shape: one token scan → (stratum, word) hash counts;
    * per-stratum totals and corpus word totals are two more hash
    * aggregates; the scoring join shuffles on word (bounded by
    * vocabulary); the 1-row corpus total broadcasts.
    */
  def jsDivergenceByStratum(df: DataFrame, strataCol: String,
      textCol: String): DataFrame = {
    val ln2 = 0.6931471805599453
    val tok = df.select(col(strataCol).as("stratum"),
        explode(split(normalize(col(textCol)), " ")).as("tk"))
      .filter(length(col("tk")) > 0)
    val sw = tok.groupBy("stratum", "tk").agg(count(lit(1)).as("c"))
    val st = sw.groupBy("stratum").agg(sum("c").as("nt"))
    val cw = sw.groupBy("tk").agg(sum("c").as("cc"))
    val tot = cw.agg(sum("cc").as("nn"))
    val ps = col("c").cast("double") / col("nt")
    val q = col("cc").cast("double") / col("nn")
    sw.join(st, "stratum").join(cw, "tk").crossJoin(broadcast(tot))
      .groupBy("stratum")
      .agg(max("nt").as("n_tokens"),
        (lit(0.5) * sum(ps * log(lit(2.0) * ps / (ps + q)) +
          q * log(lit(2.0) * q / (ps + q))) +
          lit(0.5) * lit(ln2) * (lit(1.0) - sum(q))).as("jsd"))
  }

  /** Corpus collocations by pointwise mutual information: adjacent
    * normalized-token bigrams with count ≥ `minCount`, scored
    * PMI = ln(N·c(ab) / (c(a)·c(b))) over token-occurrence counts —
    * the classic collocation/phrase-mining signal ("new york" scores
    * high, "of the" low). Returns the global top-`topK` by
    * (PMI desc, bigram asc).
    *
    * Scale shape: one token scan feeds the unigram count and the
    * lag-window bigram count (the [[bigramNll]] shape); two
    * token-keyed joins attach unigram counts; the top-k is a bounded
    * TakeOrderedAndProject, never a global sort.
    */
  def collocations(df: DataFrame, idCol: String, textCol: String,
      minCount: Long = 2, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minCount >= 1 && topK >= 1, "minCount and topK must be >= 1")
    val tok = df.select(col(idCol).as("doc_id"),
      posexplode(split(normalize(col(textCol)), " ")).as(Seq("pos", "tk")))
      .filter(length(col("tk")) > 0)
    val uni = tok.groupBy("tk").agg(count(lit(1)).as("c"))
    val tot = tok.agg(count(lit(1)).as("n"))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val big = tok.withColumn("prev", lag("tk", 1).over(byDoc))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("w1"), col("tk").as("w2"))
      .agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minCount)
    big
      .join(uni.select(col("tk").as("w1"), col("c").as("ca")), "w1")
      .join(uni.select(col("tk").as("w2"), col("c").as("cb")), "w2")
      .crossJoin(broadcast(tot))
      .withColumn("pmi",
        log(col("n").cast("double") * col("cab") /
          (col("ca") * col("cb"))))
      .select(col("w1"), col("w2"), col("cab"), col("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Corpus-trained unigram language-model score per document: the
    * mean negative log-likelihood of each document's tokens under an
    * additively-smoothed unigram model fit on the whole input — the
    * same "perplexity bucketing" signal CCNet-style pipelines use to
    * rank web text by fluency (there with a KenLM n-gram model; here
    * the deterministic unigram special case, oracle-checkable
    * cross-engine). p(t) = (c(t) + a) / (N + a·V) over normalized
    * whitespace tokens; returns (doc_id, nll), docs with no tokens
    * are dropped.
    *
    * Scale shape: one token-explode scan feeds both the vocabulary
    * count (hash group-by with map-side partials) and the scoring
    * join; the (token → count) join is a shuffle on the token —
    * heavy-hitter tokens are exactly the keys AQE skew-split handles
    * — and the 1-row (N, V) total is a broadcast. Nothing collects a
    * vocabulary to the driver.
    */
  def unigramNll(df: DataFrame, idCol: String, textCol: String,
      smoothing: Double = 0.5): DataFrame = {
    // deliberately NOT cached: the token stream is regenerated for
    // the scoring join — a cheap narrow re-scan — because materializing
    // a corpus-sized token cache costs more than recomputing it (and
    // at 100 TB could not be resident anyway)
    val tok = df.select(col(idCol).as("doc_id"),
      explode(split(normalize(col(textCol)), " ")).as("tk"))
      .filter(length(col("tk")) > 0)
    val tc = tok.groupBy("tk").agg(count(lit(1)).as("c"))
    val tot = tc.agg(sum("c").as("n"), count(lit(1)).as("v"))
    tok.join(tc, "tk")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(avg(-log((col("c") + smoothing) /
        (col("n") + col("v") * smoothing))).as("nll"))
  }

  /** CCNet-style perplexity bucketing: fit an additively-smoothed
    * unigram LM PER LANGUAGE (CCNet trains one KenLM per language;
    * this is its deterministic unigram core), score each document's
    * mean token NLL under its own language's model, and split each
    * language's documents into `nBuckets` equal-frequency buckets —
    * bucket 1 = most fluent (lowest NLL, CCNet's "head"), `nBuckets`
    * = "tail". Returns (doc_id, lang, nll, bucket); docs with no
    * tokens are dropped. Deterministic AND engine-replayable: the
    * split orders by the NLL rounded to 1e-6 (then doc_id) — raw
    * doubles carry summation-order noise ~1e-13 that would make
    * bucket boundaries flap between runs/engines, and 1e-6 is far
    * below any meaningful fluency difference.
    *
    * Scale shape: the LM fit + scoring is [[unigramNll]]'s one
    * token-scan shape with `lang` prepended to every key (counts
    * shuffle on (lang, token); per-language (N, V) totals broadcast).
    * The exact equal-frequency split is an `ntile` window — a
    * range-style sort within each language's partition. That sort is
    * the one stage that grows with the largest language, so at
    * 100 TB fit cutoffs on a sample or sketch instead
    * (`Profile.approxQuantiles` / the mergeable KLL sketch) and
    * assign with [[bucketByCutoffs]] — a broadcast CASE, no sort.
    */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
      langCol: String, nBuckets: Int = 3, smoothing: Double = 0.5)
      : DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    import org.apache.spark.sql.expressions.Window
    val tok = df.select(col(idCol).as("doc_id"), col(langCol).as("lang"),
        explode(split(normalize(col(textCol)), " ")).as("tk"))
      .filter(length(col("tk")) > 0)
    val tc = tok.groupBy("lang", "tk").agg(count(lit(1)).as("c"))
    val tot = tc.groupBy("lang").agg(sum("c").as("n"), count(lit(1)).as("v"))
    val nll = tok.join(tc, Seq("lang", "tk"))
      .join(broadcast(tot), "lang")
      .groupBy("doc_id", "lang")
      .agg(avg(-log((col("c") + smoothing) /
        (col("n") + col("v") * smoothing))).as("nll"))
    nll.withColumn("bucket",
      ntile(nBuckets).over(
        Window.partitionBy("lang")
          .orderBy(round(col("nll"), 6), col("doc_id")))
        .cast("long"))
  }

  /** Threshold-bucket assignment for pre-fitted cutoffs — the 100 TB
    * companion to [[perplexityBuckets]]: `cutoffs` (ascending) are
    * the bucket upper bounds fitted offline (sample, sketch, or a
    * previous corpus version); every row is assigned bucket
    * `1 + |{c ∈ cutoffs : c < value}|` in a single codegen'd CASE —
    * no sort, no shuffle, and stable as the corpus grows (CCNet
    * freezes its Wikipedia-fitted cutoffs for exactly this reason).
    */
  def bucketByCutoffs(scored: DataFrame, valueCol: String,
      cutoffs: Seq[Double]): DataFrame = {
    require(cutoffs.nonEmpty && cutoffs == cutoffs.sorted,
      "cutoffs must be non-empty and ascending")
    val bucket = cutoffs.foldLeft(lit(1L)) { (acc, c) =>
      acc + when(col(valueCol) > c, 1L).otherwise(0L)
    }
    scored.withColumn("bucket", bucket)
  }

  /** Cross-document n-gram novelty / boilerplate profile: for each
    * document, the fraction of its (normalized-token) n-gram
    * OCCURRENCES that are unique to it in the whole corpus
    * (`novel_frac`) and the fraction appearing in ≥ `commonDocs`
    * distinct documents (`common_frac`). High common_frac flags
    * boilerplate (headers, navigation, licenses) that per-document
    * quality scores can't see; low novel_frac + high common_frac is
    * the classic near-template signature. Documents with fewer than
    * `n` tokens have no n-grams and are reported with zero grams and
    * zero fractions (total over the input).
    *
    * Scale shape: one explode scan → a gram-keyed groupBy computing
    * (total occurrences, distinct docs) with map-side partials —
    * duplicate mass collapses before the shuffle, like the line-dedup
    * aggregate — then the same exploded stream joins the gram stats
    * back (shuffle on the gram hash; heavy boilerplate grams are
    * exactly the keys AQE skew-split handles) and reduces per doc.
    * Grams are joined on `xxhash64` of the gram, not the text, so the
    * exchange carries 8-byte keys (a hash collision conflates two
    * grams with probability ~n²/2⁶⁴ — immaterial for a statistical
    * profile; use the raw gram text if exactness ever matters). The
    * distinct-doc count is a two-level aggregate ((gram, doc) then
    * gram) rather than count(distinct) — no Expand doubling, both
    * levels map-side combined.
    */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, commonDocs: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val toks = split(normalize(col(textCol)), " ")
    val base = df.select(col(idCol).as("doc_id"),
      when(length(normalize(col(textCol))) === 0,
        array().cast("array<string>")).otherwise(toks).as("w"))
    // guard: sequence(1, 0) DESCENDS in Spark, so short docs must
    // yield an explicit empty gram array
    val grams = base.select(col("doc_id"), explode(expr(
      s"""if (size(w) < $n, array(),
         |  transform(sequence(1, size(w) - ${n - 1}),
         |    i -> xxhash64(array_join(slice(w, i, $n), ' '))))""".stripMargin))
      .as("g"))
    val stats = grams.groupBy("g", "doc_id")
      .agg(count(lit(1)).as("occ_d"))
      .groupBy("g")
      .agg(sum("occ_d").as("occ"), count(lit(1)).as("docs"))
    val joined = grams.join(stats, "g")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("occ") === 1L, 1L).otherwise(0L)).as("novel"),
        sum(when(col("docs") >= commonDocs, 1L).otherwise(0L)).as("common"))
    // join back to the full doc list so gram-free docs stay present
    df.select(col(idCol).as("doc_id")).join(joined, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        round(coalesce(col("novel") / col("n_grams"), lit(0.0)), 6)
          .as("novel_frac"),
        round(coalesce(col("common") / col("n_grams"), lit(0.0)), 6)
          .as("common_frac"))
  }

  /** DSIR-style importance weights for data selection (Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling", simplified to the add-λ unigram case): fit one
    * smoothed unigram LM on the TARGET sample (`isTarget` rows) and
    * one on the whole raw corpus — both over the raw corpus
    * vocabulary, so the models share support — and weight every
    * document by its mean per-token log-likelihood ratio
    * `log p_target(t) − log p_raw(t)`. Documents resembling the
    * target distribution get higher weight; feed the result to
    * [[Corpus.dropBottomByScore]] (per-stratum) or a top-fraction cut
    * to shift the corpus toward the target. Returns (doc_id, weight)
    * for every document with ≥ 1 normalized token (token-free docs
    * carry no evidence either way, matching [[unigramNll]]'s
    * contract).
    *
    * Scale shape — identical to [[unigramNll]]: ONE token-explode
    * scan feeds both count aggregates (map-side partials), the
    * scoring join shuffles on the token (heavy hitters are exactly
    * what AQE skew-split handles), and the 1-row totals are a
    * broadcast. The target sample rides the same scan via a
    * conditional count — it is never scanned separately. All
    * arithmetic is engine-replayable (add-λ ratios of exact longs).
    */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, smoothing: Double = 0.5): DataFrame = {
    val tok = df.select(col(idCol).as("doc_id"),
      isTarget.cast("boolean").as("__tgt"),
      explode(split(normalize(col(textCol)), " ")).as("tk"))
      .filter(length(col("tk")) > 0)
    // both models from one pass: raw count + conditional target count
    val tc = tok.groupBy("tk").agg(
      count(lit(1)).as("cr"),
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("ct"))
    val tot = tc.agg(sum("cr").as("nr"), sum("ct").as("nt"),
      count(lit(1)).as("v"))
    val lr =
      log((col("ct") + smoothing) / (col("nt") + col("v") * smoothing)) -
        log((col("cr") + smoothing) / (col("nr") + col("v") * smoothing))
    tok.join(tc, "tk")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(avg(lr).as("weight"))
  }

  /** BM25 retrieval scoring (Robertson et al.; the Lucene-default
    * `idf·tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))` form with
    * `idf = ln(1 + (N-df+0.5)/(df+0.5))`): score every document
    * against a fixed bag of query terms, return the top `topK`.
    *
    * Scale shape: the query terms are a literal list, so the first
    * scan keeps only (doc_id, doc length, matching tokens) — the
    * exploded stream carries query-term hits, never the corpus
    * vocabulary. Corpus stats (N, Σdl) and per-term document
    * frequencies are tiny aggregates broadcast back; the final
    * per-document sum groups at most |queryTerms| rows per doc.
    * avgdl is derived as exact-long Σdl/N in one double division, so
    * any engine replays it bit-for-bit.
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 10): DataFrame = {
    val toks = split(normalize(col(textCol)), " ")
    val base = df.select(col(idCol).as("doc_id"),
      size(toks).cast("long").as("dl"),
      filter(toks, t => t.isInCollection(queryTerms)).as("qt"))
    val stats = base.agg(count(lit(1)).cast("long").as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val tf = base.select(col("doc_id"), col("dl"), explode(col("qt")).as("tk"))
      .groupBy("doc_id", "dl", "tk").agg(count(lit(1)).cast("long").as("tf"))
    val dfreq = tf.groupBy("tk").agg(count(lit(1)).cast("long").as("df"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    tf.join(broadcast(dfreq), "tk")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("w", col("idf") * col("tf") * (k1 + 1) /
        (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl)))
      .groupBy("doc_id")
      .agg((floor(sum("w") * 1e6 + 0.5) / 1e6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
  }

  /** Zipf-law fit of the corpus token-frequency distribution:
    * closed-form OLS of ln(freq) on ln(rank) (rank 1 = most frequent,
    * ties broken alphabetically so the ranking is deterministic).
    * Natural text sits near slope ≈ −1; a much flatter or steeper
    * slope is a classic "this shard is boilerplate / machine noise"
    * corpus-health signal. Returns one row
    * (n_types, n_tokens, slope, intercept, r2) — `intercept` is
    * ln(predicted freq at rank 1), `r2` the fit quality in log-log
    * space (NULL for single-type corpora, where variance is zero).
    *
    * Scale shape: one token scan → vocabulary hash count, ranked by
    * [[graft.functions.Ranks.rank]] (one window task for a word
    * vocabulary, the two-pass rank for open ones — n-grams, URLs).
    * The regression itself is one 6-number aggregate of
    * (x, y, xy, x², y²) partials — nothing is collected.
    */
  def zipfFit(df: DataFrame, textCol: String): DataFrame = {
    val counts = df.select(
        explode(split(normalize(col(textCol)), " ")).as("tk"))
      .filter(length(col("tk")) > 0)
      .groupBy("tk").agg(count(lit(1)).as("c"))
    val ranked = graft.functions.Ranks.rank(counts,
      Seq(col("c").desc, col("tk")), "rank")
    val x = log(col("rank").cast("double"))
    val y = log(col("c").cast("double"))
    ranked
      .agg(count(lit(1)).as("n_types"), sum("c").as("n_tokens"),
        count(lit(1)).cast("double").as("n"),
        sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"))
      .select(col("n_types"), col("n_tokens"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
        col("n"), col("sx"), col("sy"), col("sxy"), col("sxx"), col("syy"))
      .select(col("n_types"), col("n_tokens"), col("slope"),
        ((col("sy") - col("slope") * col("sx")) / col("n")).as("intercept"),
        (pow(col("n") * col("sxy") - col("sx") * col("sy"), 2.0) /
          ((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy")))).as("r2"))
  }

  /** Heaps' law fit V = k·Nᵝ (vocabulary growth): vocabulary size at
    * `checkpoints` equal-document-count prefixes of the corpus in
    * doc-id order, log-log OLS over the checkpoint points. The
    * sub-linear exponent β is the "will dedup/vocab tables keep
    * fitting" number a corpus owner reads before the next 10×.
    *
    * Checkpoint boundaries are the ⌈N·j/cp⌉-th smallest doc ids —
    * discrete order statistics via [[graft.functions.Ranks
    * .distributedRank]]'s two-pass per-partition count + offset over
    * the per-doc AGGREGATE (never a raw-corpus sort, and no
    * single-partition window: N is the corpus DOCUMENT count, which
    * at 100 TB is billions of rows); vocabulary at a
    * boundary counts tokens whose FIRST document id is within it, so
    * one token scan serves every checkpoint. Returns one row per
    * checkpoint (checkpoint, n_tokens, vocab) with the fitted
    * (beta, log_k, r2) repeated.
    */
  def heapsFit(df: DataFrame, idCol: String, textCol: String,
      checkpoints: Int = 10): DataFrame = {
    require(checkpoints >= 2, "need at least 2 checkpoints")
    val tokens = filter(split(normalize(col(textCol)), " "),
      t => length(t) > 0)
    val docs = df.select(col(idCol).cast("long").as("id"),
      tokens.as("ws"))
    val perDoc = docs.groupBy("id")
      .agg(sum(size(col("ws"))).as("ntok"))
    val firstDoc = docs.select(col("id"), explode(col("ws")).as("tk"))
      .groupBy("tk").agg(min("id").as("first_id"))
    val n = perDoc.count()
    val ranked =
      graft.functions.Ranks.distributedRank(perDoc, Seq(col("id")), "rk")
    val thresholds = ranked
      .crossJoin(broadcast(
        docs.sparkSession.range(1, checkpoints + 1).toDF("cp")))
      .filter(col("rk") === ceil(col("cp") * n / lit(checkpoints))
        .cast("int"))
      .select(col("cp"), col("id").as("thr"))
    val vocab = firstDoc.crossJoin(broadcast(thresholds))
      .filter(col("first_id") <= col("thr"))
      .groupBy("cp").agg(count(lit(1)).as("vocab"))
    val toks = perDoc.crossJoin(broadcast(thresholds))
      .filter(col("id") <= col("thr"))
      .groupBy("cp").agg(sum("ntok").as("n_tokens"))
    val points = toks.join(vocab, Seq("cp"))
      .select(col("cp").as("checkpoint"), col("n_tokens"), col("vocab"))
    val x = log(col("n_tokens").cast("double"))
    val y = log(col("vocab").cast("double"))
    val fit = points
      .agg(count(lit(1)).cast("double").as("m"),
        sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"))
      .select(
        ((col("m") * col("sxy") - col("sx") * col("sy")) /
          (col("m") * col("sxx") - col("sx") * col("sx"))).as("beta"),
        col("m"), col("sx"), col("sy"), col("sxy"), col("sxx"),
        col("syy"))
      .select(col("beta"),
        ((col("sy") - col("beta") * col("sx")) / col("m")).as("log_k"),
        (pow(col("m") * col("sxy") - col("sx") * col("sy"), 2.0) /
          ((col("m") * col("sxx") - col("sx") * col("sx")) *
            (col("m") * col("syy") - col("sy") * col("sy")))).as("r2"))
    points.crossJoin(broadcast(fit))
  }

  /** Burrows' Delta stylometric distance between strata (Burrows
    * 2002): z-scores of the top-M corpus words' relative frequencies
    * within each stratum (zero frequencies included — a source
    * NEVER using a common word is signal), Delta(s1, s2) = mean
    * |z₁ − z₂| over the M words. The authorship-attribution
    * workhorse, here as a source-style distance matrix (same shape
    * family as the vocabulary-overlap and centroid-similarity
    * matrices). Words whose frequency is constant across strata
    * (σ = 0) contribute 0. Returns (s1, s2, delta) for s1 < s2.
    *
    * Scale shape: one token scan → (stratum, word) counts; top-M
    * selection ranks the distinct-WORD aggregate (never corpus
    * rows); the z-grid is M×|strata| — panel-sized — and the pair
    * join runs on it.
    */
  def burrowsDelta(df: DataFrame, strataCol: String, textCol: String,
      topM: Int = 50): DataFrame = {
    require(topM >= 1)
    val tok = df.select(col(strataCol).cast("string").as("s"),
      explode(filter(split(normalize(col(textCol)), " "),
        t => length(t) > 0)).as("tk"))
    val sw = tok.groupBy("s", "tk").agg(count(lit(1)).as("c"))
    val stot = sw.groupBy("s").agg(sum("c").as("tot"))
    val gc = sw.groupBy("tk").agg(sum("c").as("g"))
    val top = graft.functions.Ranks.rank(gc,
        Seq(col("g").desc, col("tk")), "r")
      .filter(col("r") <= topM).select("tk")
    val grid = broadcast(top).crossJoin(broadcast(stot))
      .join(sw, Seq("s", "tk"), "left")
      .select(col("s"), col("tk"),
        (coalesce(col("c"), lit(0L)).cast("double") / col("tot"))
          .as("f"))
    // explicit population-σ formula (not stddev_pop) so both engines
    // evaluate the IDENTICAL expression tree — library variance
    // kernels differ across engines exactly where σ → 0 matters
    val stats = grid.groupBy("tk")
      .agg(avg("f").as("mu"), avg(col("f") * col("f")).as("m2"))
      .select(col("tk"), col("mu"),
        sqrt(greatest(col("m2") - col("mu") * col("mu"), lit(0.0)))
          .as("sigma"))
    val z = grid.join(broadcast(stats), Seq("tk"))
      .select(col("s"), col("tk"),
        when(col("sigma") > 0, (col("f") - col("mu")) / col("sigma"))
          .otherwise(0.0).as("z"))
    z.alias("a").join(z.alias("b"),
        col("a.tk") === col("b.tk") && col("a.s") < col("b.s"))
      .groupBy(col("a.s").as("s1"), col("b.s").as("s2"))
      .agg(avg(abs(col("a.z") - col("b.z"))).as("delta"))
  }

  /** Per-stratum token-distribution diversity: Shannon entropy
    * (nats), Simpson concentration Σp², Gini coefficient of the
    * frequency distribution, and type/token counts — the corpus-mix
    * dashboard row answering "is this source's vocabulary rich or
    * is it ten tokens on repeat". Gini uses the sorted-frequency
    * closed form G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over
    * ascending-sorted type frequencies (ties broken alphabetically,
    * so every engine ranks identically).
    *
    * Scale shape: one token scan → (stratum, type) hash counts; the
    * per-stratum rank window sorts each stratum's VOCABULARY (the
    * [[zipfFit]] tradeoff, here hash-partitioned by stratum); the
    * final per-stratum aggregate carries 6 partials per stratum.
    */
  /** PPMI skip-gram co-occurrence: for every (center, context) token
    * pair within `window` positions of each other (both directions,
    * never position 0), positive pointwise mutual information
    * ppmi = max(0, ln(N·c_wc / (c_w·c_c))) over pair counts — the
    * count-based word-association matrix that distributional
    * embeddings (word2vec-as-implicit-factorization, GloVe) start
    * from. Returns the top-`topK` contexts per center word,
    * (word, context, n_pair, ppmi), ranked by the RATIONAL ratio
    * c_wc/(c_w·c_c) (monotone in ppmi but engine-exact: IEEE division
    * is correctly rounded while ln is not) with context-alpha
    * tie-break.
    *
    * Scale shape: the window join is an EQUI-join — each token row
    * explodes `window` (token-position + offset) probe keys and joins
    * position-exact, so there is no range predicate and no per-doc
    * quadratic blowup; everything after runs on the (vocab × vocab
    * observed-pair) count table, orders of magnitude smaller than the
    * corpus. The per-word rank window hash-partitions by word.
    */
  def ppmiCooccurrence(df: DataFrame, idCol: String, textCol: String,
      window: Int = 2, topK: Int = 5, minPair: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    require(window >= 1, s"window must be >= 1, got $window")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    // ordered pairs (lower position, higher position) read straight
    // off each document's RAW token array (r12): one arrays_zip per
    // offset 1..window, flattened into a single generator — the old
    // positional equi-join exploded the token stream ×window, planned
    // the tokenize subtree twice (once per join side), exchanged both
    // sides, and then evaluated the WHOLE join twice more for the
    // unionAll mirror. Positions are raw split() positions (empty
    // tokens occupy a slot but never pair — same as the old
    // post-explode length filter), and both orientations leave one
    // pass via a 2-element explode. Multiset identical, zero joins.
    val docsArr = df.select(split(normalize(col(textCol)), " ").as("ws"))
    val ordered = docsArr
      .select(explode(flatten(array((1 to window).map { o =>
        arrays_zip(
          slice(col("ws"), lit(1),
            greatest(size(col("ws")) - o, lit(0))).as("w"),
          slice(col("ws"), lit(o + 1),
            greatest(size(col("ws")) - o, lit(0))).as("c"))
      }: _*))).as("bp"))
      .select(col("bp.w").as("w"), col("bp.c").as("c"))
      .filter(length(col("w")) > 0 && length(col("c")) > 0)
    // marginals and N come from the UNFILTERED pair counts — the
    // standard PMI definition; minPair prunes only the REPORTED pairs,
    // so scores of surviving pairs don't shift as minPair changes
    val pairsAll = graft.core.PipelineCaches.persistTracked(
      ordered
        .select(explode(array(struct(col("w"), col("c")),
          struct(col("c").as("w"), col("w").as("c")))).as("p"))
        .select(col("p.w").as("w"), col("p.c").as("c"))
        .groupBy("w", "c").agg(count(lit(1)).as("n_pair")))
    val pairs = pairsAll.filter(col("n_pair") >= minPair)
    val wTot = pairsAll.groupBy("w").agg(sum("n_pair").as("cw"))
    val cTot = wTot.select(col("w").as("c"), col("cw").as("cc"))
    val n = wTot.agg(sum("cw").as("nn"))
    val ratio = col("n_pair").cast("double") /
      (col("cw").cast("double") * col("cc").cast("double"))
    val ranked = pairs.join(wTot, "w").join(cTot, "c").crossJoin(n)
      .withColumn("ppmi",
        greatest(lit(0.0), log(col("nn").cast("double") * ratio)))
      .withColumn("__r", row_number().over(W.partitionBy("w")
        .orderBy(ratio.desc, col("c").asc)))
    ranked.filter(col("__r") <= topK && col("ppmi") > 0)
      .select(col("w").as("word"), col("c").as("context"),
        col("n_pair"), col("ppmi"))
  }

  /** Per-document character-level Shannon entropy (nats) over the
    * NORMALIZED text (lowercase alphanumerics + single spaces, so the
    * alphabet is pure ASCII and every engine counts characters
    * identically) — the compression-ratio proxy quality signal: near
    * 0 means one character on repeat (padding/garbage), high values
    * with a tiny alphabet mean base64-ish noise, natural English
    * sits ~2.8-3.2 nats. Uses the aggregate identity
    * H = ln n − (Σ c·ln c)/n so no per-document normalization pass is
    * needed. Returns (id, n_chars, n_distinct, entropy); documents
    * whose normalized text is empty are absent (entropy undefined).
    *
    * Scale shape: one char explode → (doc, char) hash counts →
    * per-doc aggregate; per-doc alphabet ≤ 37 symbols, so the second
    * aggregate carries bounded state. Single corpus scan.
    */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        explode(split(normalize(col(textCol)), "")).as("ch"))
      .filter(length(col("ch")) > 0)
      .groupBy("id", "ch").agg(count(lit(1)).as("k"))
      .groupBy("id")
      .agg(sum("k").as("n_chars"), count(lit(1)).as("n_distinct"),
        (log(sum("k").cast("double")) -
          sum(col("k") * log(col("k").cast("double"))) / sum("k"))
          .as("entropy"))

  /** Pairwise vocabulary overlap between strata: for every unordered
    * stratum pair, the distinct-word counts, the shared-word count,
    * and their Jaccard — the "how different are my sources really"
    * matrix behind mixing decisions (two near-identical crawls don't
    * deserve two budget lines). Words below `minCount` occurrences
    * within a stratum don't count toward its vocabulary. Returns
    * (stratum_a, stratum_b, v_a, v_b, n_common, jaccard) for all
    * pairs with stratum_a < stratum_b, including zero-overlap pairs.
    *
    * Scale shape: one token scan → (stratum, word) counts; the pair
    * table comes from a WORD-keyed self-join of that vocabulary table
    * (quadratic only in strata-per-word, bounded by the dashboard-
    * sized stratum count), and the all-pairs grid is a crossJoin of
    * the tiny per-stratum size table.
    */
  def vocabularyOverlap(df: DataFrame, strataCol: String, textCol: String,
      minCount: Long = 1L): DataFrame = {
    val vocab = graft.core.PipelineCaches.persistTracked(
      df.select(col(strataCol).as("s"),
          explode(split(normalize(col(textCol)), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("s", "w").agg(count(lit(1)).as("c"))
        .filter(col("c") >= minCount)
        .select("s", "w"))
    val sizes = vocab.groupBy("s").agg(count(lit(1)).as("v"))
    val common = vocab.alias("a")
      .join(vocab.alias("b"),
        col("a.w") === col("b.w") && col("a.s") < col("b.s"))
      .groupBy(col("a.s").as("sa"), col("b.s").as("sb"))
      .agg(count(lit(1)).as("n_common"))
    val grid = sizes.select(col("s").as("sa"), col("v").as("v_a"))
      .crossJoin(broadcast(sizes.select(col("s").as("sb"),
        col("v").as("v_b"))))
      .filter(col("sa") < col("sb"))
    grid.join(broadcast(common), Seq("sa", "sb"), "left")
      .select(col("sa").as("stratum_a"), col("sb").as("stratum_b"),
        col("v_a"), col("v_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        (coalesce(col("n_common"), lit(0L)).cast("double") /
          (col("v_a") + col("v_b") -
            coalesce(col("n_common"), lit(0L)))).as("jaccard"))
  }

  /** Good–Turing smoothed unigram probabilities, linear-Good-Turing
    * (LGT) variant: smooth the count-of-counts N_r with the OLS line
    * ln S(r) = a + b·ln r (Gale & Sampson 1995's simple-GT regression
    * leg, used for ALL r — the deterministic variant, no
    * Turing/LGT switch rule), then r* = (r+1)·S(r+1)/S(r)
    * = (r+1)·((r+1)/r)^b and renormalize the observed mass to
    * 1 − N₁/N (the unseen-mass estimate). Returns one row per word:
    * (word, c, c_star, p_gt) — `p_gt` sums to 1 − N₁/N over the
    * vocabulary, the remainder being reserved for unseen events.
    *
    * Scale shape: one token scan → word hash counts; the regression
    * runs over the count-of-COUNTS table (dozens of rows); r* is a
    * closed form per word, so smoothing adds two broadcast scalars —
    * no second corpus pass, no window.
    */
  def goodTuringUnigram(df: DataFrame, textCol: String): DataFrame = {
    val counts = graft.core.PipelineCaches.persistTracked(
      df.select(explode(split(normalize(col(textCol)), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("c")))
    val nr = counts.groupBy("c").agg(count(lit(1)).as("nr"))
    val x = log(col("c").cast("double"))
    val y = log(col("nr").cast("double"))
    // closed-form OLS slope of ln N_r on ln r (the zipfFit kernel)
    val fit = nr.agg(count(lit(1)).cast("double").as("k"),
        sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"),
        sum(x * x).as("sxx"),
        sum(col("c") * col("nr")).as("n_tokens"),
        sum(when(col("c") === 1, col("nr")).otherwise(0L)).as("n1"))
      .select(((col("k") * col("sxy") - col("sx") * col("sy")) /
        (col("k") * col("sxx") - col("sx") * col("sx"))).as("b"),
        col("n_tokens"), col("n1"))
    // r* = (r+1)·((r+1)/r)^b; then scale so Σp = 1 − N1/N
    val rstar = (col("c") + 1).cast("double") *
      pow((col("c") + 1).cast("double") / col("c").cast("double"), col("b"))
    val scored = counts.crossJoin(broadcast(fit))
      .withColumn("c_star", rstar)
    val z = scored.agg(sum("c_star").as("z"))
    scored.crossJoin(broadcast(z))
      .select(col("w").as("word"), col("c"), col("c_star"),
        ((lit(1.0) - col("n1").cast("double") / col("n_tokens")) *
          col("c_star") / col("z")).as("p_gt"))
  }

  /** Gries' deviation-of-proportions dispersion (DP, 2008): for each
    * word, DP = ½·Σ_s |v_s − t_s| where t_s is stratum s's share of
    * all corpus tokens and v_s the share of THIS word's occurrences
    * that fall in s — 0 means the word spreads exactly like the
    * corpus (function words), values near 1 mean it clumps into one
    * stratum (topic/boilerplate markers). The complement of
    * [[keyness]]: keyness asks "which words mark this stratum", DP
    * asks "how stratum-bound is this word". Only words with total
    * count ≥ `minCount` are returned (rare words have degenerate DP).
    *
    * Scale shape: one token scan → (stratum, word) counts; the
    * absent-(word, stratum) terms are NEVER materialized — each
    * absent stratum contributes exactly |0 − t_s| = t_s, so
    * Σ_s |v_s − t_s| = Σ_{s present} |v_s − t_s| + (1 − Σ_{s present}
    * t_s) and the whole sum comes from the PRESENT pairs alone (plus
    * a broadcast join to the dashboard-sized t_s table). The round-6
    * vocab × strata grid join is gone — at web-corpus vocab sizes the
    * grid was vocab × strata rows of mostly-zero terms.
    */
  def dispersion(df: DataFrame, strataCol: String, textCol: String,
      minCount: Long = 10L): DataFrame = {
    val counts = graft.core.PipelineCaches.persistTracked(
      df.select(col(strataCol).as("stratum"),
          explode(split(normalize(col(textCol)), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("stratum", "w").agg(count(lit(1)).as("yws")))
    val words = counts.groupBy("w").agg(sum("yws").as("yw"))
      .filter(col("yw") >= minCount)
    val strat = counts.groupBy("stratum").agg(sum("yws").as("ns"))
    val n = strat.agg(sum("ns").as("nn"))
    val ts = broadcast(strat.crossJoin(n).select(col("stratum"),
      (col("ns").cast("double") / col("nn")).as("ts")))
    counts.join(words, "w").join(ts, "stratum")
      .groupBy(col("w").as("word"), col("yw").as("c"))
      .agg(((sum(abs(col("yws").cast("double") / col("yw") - col("ts"))) +
        lit(1.0) - sum(col("ts"))) / 2.0).as("dp"))
  }

  /** Keyness: per-stratum enriched vocabulary by the log-odds-ratio
    * with an informative Dirichlet prior (Monroe, Colaresi & Quinn
    * 2008) — each stratum vs the rest of the corpus, with the corpus
    * unigram distribution scaled to `alpha0` pseudo-counts as the
    * prior, scored by the z-statistic δ/√var. The standard "what
    * words make this source/language slice different" dashboard,
    * robust to rare words where plain log-odds explodes. Returns the
    * top-`topK` (stratum, word, n_stratum, n_rest, z) per stratum by
    * z descending (word-alpha tie-break) — the ENRICHED side only;
    * depleted words (z < 0, including words absent from the stratum)
    * are not reported, which is why the absent-word grid is never
    * materialized.
    *
    * Scale shape: one token scan → (stratum, word) hash counts; word
    * totals are a second aggregate of that table joined back
    * word-keyed; stratum totals and N are dashboard-sized and
    * broadcast. The rank window hash-partitions by stratum.
    */
  def keyness(df: DataFrame, strataCol: String, textCol: String,
      alpha0: Double = 100.0, topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    require(alpha0 > 0, s"alpha0 must be > 0, got $alpha0")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val counts = df.select(col(strataCol).as("stratum"),
        explode(split(normalize(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("stratum", "w").agg(count(lit(1)).as("yws"))
    val wordTot = counts.groupBy("w").agg(sum("yws").as("yw"))
    val stratTot = counts.groupBy("stratum").agg(sum("yws").as("ns"))
    val n = wordTot.agg(sum("yw").as("nn"))
    val joined = counts.join(wordTot, "w")
      .join(broadcast(stratTot), "stratum").crossJoin(broadcast(n))
    val aw = lit(alpha0) * col("yw").cast("double") / col("nn")
    val ywr = (col("yw") - col("yws")).cast("double")
    val nr = (col("nn") - col("ns")).cast("double")
    val dIn = log((col("yws") + aw) /
      (col("ns") + lit(alpha0) - col("yws") - aw))
    val dOut = log((ywr + aw) / (nr + lit(alpha0) - ywr - aw))
    val z = (dIn - dOut) / sqrt(lit(1.0) / (col("yws") + aw) +
      lit(1.0) / (ywr + aw))
    joined
      .withColumn("z", z)
      .withColumn("__r", row_number().over(W.partitionBy("stratum")
        .orderBy(col("z").desc, col("w").asc)))
      .filter(col("__r") <= topK && col("z") > 0)
      .select(col("stratum"), col("w").as("word"),
        col("yws").as("n_stratum"), (col("yw") - col("yws")).as("n_rest"),
        col("z"))
  }

  def tokenDiversity(df: DataFrame, strataCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.select(col(strataCol).as("stratum"),
        explode(split(normalize(col(textCol)), " ")).as("tk"))
      .filter(length(col("tk")) > 0)
      .groupBy("stratum", "tk").agg(count(lit(1)).as("c"))
    val ranked = counts.withColumn("i",
      row_number().over(Window.partitionBy("stratum")
        .orderBy(col("c").asc, col("tk"))))
    val p = col("c").cast("double") / col("nt")
    ranked
      .withColumn("nt", sum("c").over(Window.partitionBy("stratum")))
      .groupBy("stratum")
      .agg(max("nt").as("n_tokens"),
        count(lit(1)).as("n_types"),
        (-sum(p * log(p))).as("shannon"),
        sum(p * p).as("simpson"),
        (lit(2.0) * sum(col("i") * col("c")) /
          (count(lit(1)).cast("double") * max("nt").cast("double")) -
          (count(lit(1)) + lit(1.0)) / count(lit(1))).as("gini"))
  }

  /** Harman S-stemmer (1991) — the light, precision-first plural
    * stemmer used where Porter over-stems retrieval vocabularies:
    * exactly three rules, FIRST match wins, each guarded by its
    * exception suffixes ("ies"→"y" unless e/aies; drop "es"-final s
    * unless a/e/oes; drop final s unless us/ss). Pure codegen'd
    * Column program — the BM25/keyword pipelines fold it into the
    * tokenize scan with zero extra passes.
    */
  def sStem(c: Column): Column =
    when(c.endsWith("ies") && !c.endsWith("eies") && !c.endsWith("aies"),
      concat(c.substr(lit(1), length(c) - 3), lit("y")))
      .when(c.endsWith("es") && !c.endsWith("aes") && !c.endsWith("ees") &&
        !c.endsWith("oes"),
        c.substr(lit(1), length(c) - 1))
      .when(c.endsWith("s") && !c.endsWith("us") && !c.endsWith("ss"),
        c.substr(lit(1), length(c) - 1))
      .otherwise(c)

  /** Keyword-in-context concordance (KWIC): every occurrence of
    * `term` in the normalized token stream with up to `window`
    * tokens of context on each side — the corpus-linguistics read
    * ("how is this word actually used") behind sense disambiguation
    * and collocation inspection. Returns (id, pos, left, right),
    * pos = 0-based token position.
    *
    * Scale shape: one tokenize scan + one posexplode filtered to the
    * term (the context slices read the row's OWN token array — no
    * join, no second scan); output is occurrence-sized, not
    * corpus-sized.
    */
  /** Tokenizer fertility report per stratum: tokens-per-word
    * (fertility — how many subword pieces a whitespace word costs)
    * and bytes-per-token (compression — how much raw text one token
    * carries), the two numbers a tokenizer is judged by across
    * languages before a vocab ships (a fertility of 4 on one
    * language vs 1.3 on another means that language pays 3× the
    * sequence length for the same text). `encoded`: one row per
    * document with the piece ARRAY (any tokenizer's corpus-encode
    * output — BPE, unigram-LM); words/bytes come from the raw text.
    *
    * Scale shape: one stratum hash aggregate over per-document
    * columns; no token explosion.
    */
  def fertilityReport(encoded: DataFrame, strataCol: String,
      textCol: String, piecesCol: String): DataFrame = {
    encoded.select(col(strataCol).as("stratum"),
        size(col(piecesCol)).cast("long").as("n_pieces"),
        size(tokens(normalize(col(textCol)))).cast("long").as("n_words"),
        octet_length(col(textCol)).cast("long").as("n_bytes"))
      .groupBy("stratum")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_pieces").as("n_pieces"),
        sum("n_words").as("n_words"),
        sum("n_bytes").as("n_bytes"))
      .withColumn("fertility", when(col("n_words") > 0,
        col("n_pieces").cast("double") / col("n_words")))
      .withColumn("bytes_per_token", when(col("n_pieces") > 0,
        col("n_bytes").cast("double") / col("n_pieces")))
  }

  /** Out-of-vocabulary rate per stratum against a vocabulary table —
    * the tokenizer-coverage read run before committing a vocab to a
    * training run (an OOV rate that differs by stratum says the
    * vocab was trained on a skewed mix). `vocab`: one token per row
    * in `vocabCol`. Returns (stratum, n_tokens, n_oov, oov_rate).
    *
    * Scale shape: one tokenize scan → (stratum, token) hash
    * aggregate, one broadcast-able left join against the vocab (a
    * vocab is ≤ a few hundred k rows by construction), one stratum
    * rollup. The corpus never joins row-wise — only its distinct
    * (stratum, token) counts do.
    */
  def oovRate(df: DataFrame, strataCol: String, textCol: String,
      vocab: DataFrame, vocabCol: String): DataFrame = {
    val counts = df.select(col(strataCol).as("stratum"),
        explode(split(normalize(col(textCol)), " ")).as("tk"))
      .filter(length(col("tk")) > 0)
      .groupBy("stratum", "tk").agg(count(lit(1)).as("c"))
    val v = vocab.select(col(vocabCol).as("tk")).distinct()
      .withColumn("in_vocab", lit(1L))
    counts.join(broadcast(v), Seq("tk"), "left")
      .groupBy("stratum")
      .agg(sum("c").as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("c")).otherwise(0L))
          .as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens"))
  }

  def kwic(df: DataFrame, idCol: String, textCol: String,
      term: String, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val toks = split(normalize(col(textCol)), " ")
    df.select(col(idCol).as("id"), toks.as("tks"))
      .select(col("id"), col("tks"),
        posexplode(col("tks")).as(Seq("pos", "w")))
      .filter(col("w") === term)
      .select(col("id"), col("pos"),
        array_join(slice(col("tks"),
          greatest(lit(1), col("pos") + 1 - window),
          col("pos") + 1 - greatest(lit(1), col("pos") + 1 - window)),
          " ").as("left"),
        array_join(slice(col("tks"), col("pos") + 2, lit(window)), " ")
          .as("right"))
  }

  /** TextTiling-lite topic segmentation (Hearst 1997, simplified):
    * split each document into fixed `blockSize`-token blocks, score
    * every adjacent-block gap by term-vector cosine, and mark a
    * boundary where the gap's DEPTH (how far its similarity dips
    * below both neighbors, depth = max(0, sim₋₁−sim) +
    * max(0, sim₊₁−sim)) exceeds the per-document μ_d + `c`·σ_d
    * (population σ). The semantic chunker for training/RAG pipelines
    * — boundaries land where vocabulary actually shifts instead of
    * at fixed offsets. Documents shorter than 2 blocks emit no rows.
    * Returns (id, gap, sim, depth, boundary) where gap g scores the
    * seam between blocks g and g+1.
    *
    * Simplification vs Hearst: depth uses the IMMEDIATE neighbors,
    * not the nearest local maxima outward scan — a sequential
    * per-row recursion with no relational form; on fixed-size
    * blocks the one-step depth is the standard approximation.
    *
    * All similarity arithmetic is integer token counts (dot and
    * norms exact in double), so scores replay bit-identically.
    *
    * Scale shape: per-document work only — one posexplode, one
    * (id, block, token) hash aggregate, one (id, block) aggregate
    * building each block's sorted sparse count vector (norm riding the
    * same pass), and id-partitioned windows: the adjacent-block dot
    * product is a lead() of the next block's vector + a codegen'd
    * merge walk ([[org.apache.spark.sql.graft.SortedDot]], integer-
    * exact). Nothing crosses documents, and nothing joins — the old
    * form's token-level adjacent-block equi-join (two more exchanges
    * of the count table + a norms self-join) is gone, as is the count
    * table's pipeline cache (it is consumed exactly once now).
    */
  def textTiling(df: DataFrame, idCol: String, textCol: String,
      blockSize: Int = 20, c: Double = 1.0): DataFrame = {
    require(blockSize >= 2, s"blockSize must be >= 2, got $blockSize")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("id"),
        posexplode(filter(split(normalize(col(textCol)), " "),
          t => length(t) > 0)).as(Seq("pos", "tok")))
      .select(col("id"), (col("pos") / blockSize).cast("long").as("blk"),
        col("tok"))
    val cnt = toks.groupBy("id", "blk", "tok").agg(count(lit(1)).as("n"))
    // per-block sorted sparse vector + its squared norm in one pass;
    // blocks are position-contiguous, so lead(blk) IS blk + 1
    val blocks = cnt.groupBy("id", "blk")
      .agg(sort_array(collect_list(struct(col("tok"), col("n"))))
          .as("ents"),
        sum(col("n") * col("n")).as("sq"))
    val wb = Window.partitionBy("id").orderBy("blk")
    // every adjacent pair gets a sim row even with zero shared terms
    val sims = blocks
      .withColumn("nents", lead("ents", 1).over(wb))
      .withColumn("nsq", lead("sq", 1).over(wb))
      .filter(col("nents").isNotNull)
      .select(col("id"), col("blk").as("gap"),
        (org.apache.spark.sql.graft.PairFunctions
          .sorted_dot(col("ents"), col("nents")).cast("double") /
          sqrt(col("sq").cast("double") * col("nsq"))).as("sim"))
    val wd = Window.partitionBy("id").orderBy("gap")
    val depth = sims
      .withColumn("depth",
        greatest(coalesce(lag("sim", 1).over(wd), col("sim")) - col("sim"),
          lit(0.0)) +
        greatest(coalesce(lead("sim", 1).over(wd), col("sim")) - col("sim"),
          lit(0.0)))
    val wg = Window.partitionBy("id")
    // 1e6 floor-quantize BOTH sides of the threshold compare: mu/sd
    // are order-dependent float aggregations, and a depth within an
    // ulp of the raw threshold would flip the boundary boolean
    // between engines/partitionings (the pageHinkley discipline)
    def q6(x: Column): Column = floor(x * 1e6 + 0.5)
    depth
      .withColumn("mu", avg("depth").over(wg))
      .withColumn("sd", stddev_pop("depth").over(wg))
      .select(col("id"), col("gap"), col("sim"), col("depth"),
        (q6(col("depth")) > q6(col("mu") + lit(c) * col("sd")))
          .as("boundary"))
  }
  /** Chao1 vocabulary-richness estimator per stratum (Chao 1984,
    * bias-corrected form): how many word types the stratum WOULD show
    * with unbounded sampling — V + f₁(f₁−1)/(2(f₂+1)) where f₁/f₂ are
    * the singleton/doubleton type counts. The coverage read behind
    * "is this source's vocabulary exhausted or did we just not crawl
    * enough": a big chao1 − V gap means the corpus is still
    * discovering the stratum. Returns per stratum
    * (stratum, n_tokens, vocab, f1, f2, chao1).
    *
    * Scale shape: one token scan → (stratum, token) hash aggregate →
    * one stratum aggregate; the f-counts ride the same pass.
    */
  def chao1(df: DataFrame, strataCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(strataCol).as("stratum"),
        explode(filter(split(normalize(col(textCol)), " "),
          t => length(t) > 0)).as("tok"))
      .groupBy("stratum", "tok").agg(count(lit(1)).as("c"))
    tok.groupBy("stratum")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("stratum"), col("n_tokens"), col("vocab"), col("f1"),
        col("f2"),
        (col("vocab") + col("f1").cast("double") * (col("f1") - 1) /
          (lit(2.0) * (col("f2") + 1))).as("chao1"))
  }
  /** Segmentation-quality metrics Pk (Beeferman 1999) and WindowDiff
    * (Pevzner–Hearst 2002) per document — how a predicted boundary
    * set (e.g. [[textTiling]]) compares against a reference, scored
    * the way the literature does instead of naive boundary
    * precision/recall (which over-penalizes near misses): slide a
    * window of `k` gaps; Pk counts windows where prediction and
    * reference DISAGREE about "is there any boundary in here";
    * WindowDiff counts windows where the boundary COUNTS differ.
    * Input is one row per (id, gap) with boolean predicted/reference
    * boundary columns; documents with fewer than `k` gaps emit no
    * row (metric undefined). Returns per document
    * (id, n_gaps, n_windows, pk, window_diff).
    *
    * Scale shape: id-partitioned sliding-count windows over the
    * per-gap table — per-document work only.
    */
  def windowDiff(df: DataFrame, idCol: String, gapCol: String,
      predCol: String, refCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id").orderBy("gap")
      .rowsBetween(0, k - 1)
    val wAll = Window.partitionBy("id")
    val base = df.select(col(idCol).as("id"), col(gapCol).as("gap"),
      col(predCol).cast("boolean").as("p"),
      col(refCol).cast("boolean").as("r"))
    base
      .withColumn("pw", sum(when(col("p"), 1L).otherwise(0L)).over(w))
      .withColumn("rw", sum(when(col("r"), 1L).otherwise(0L)).over(w))
      .withColumn("n_gaps", count(lit(1)).over(wAll))
      .withColumn("pos", row_number().over(
        Window.partitionBy("id").orderBy("gap")))
      // only full windows: the last k-1 positions have short frames
      .filter(col("pos") <= col("n_gaps") - k + 1)
      .groupBy("id")
      .agg(first("n_gaps").as("n_gaps"), count(lit(1)).as("n_windows"),
        sum(when((col("pw") > 0) =!= (col("rw") > 0), 1L).otherwise(0L))
          .as("pk_err"),
        sum(when(col("pw") =!= col("rw"), 1L).otherwise(0L))
          .as("wd_err"))
      .select(col("id"), col("n_gaps"), col("n_windows"),
        (col("pk_err").cast("double") / col("n_windows")).as("pk"),
        (col("wd_err").cast("double") / col("n_windows"))
          .as("window_diff"))
  }

  /** Cross-entropy matrix between per-stratum unigram language
    * models — which sources "speak like" which: H(a,b) =
    * −Σ_w p_a(w)·ln q_b(w) with q_b Laplace-smoothed over the POOLED
    * vocabulary, split into the shared-vocabulary sum (one word-keyed
    * join of count tables) plus the closed-form absent-mass term —
    * the LM-similarity complement to vocabularyOverlap (surface
    * forms) and strataCentroidSimilarity (embeddings). Low H(a,b) −
    * H(b,b) ≈ "b's model predicts a well" — the mixing/curation
    * read. Returns all ordered pairs (stratum_a, stratum_b,
    * shared_types, cross_entropy).
    *
    * Scale shape: one token scan → (stratum, token) counts; the pair
    * term is a word-keyed self-join of those BOUNDED count tables
    * (vocab × strata grain, never the corpus), plus two broadcast
    * total tables.
    */
  def crossEntropyMatrix(df: DataFrame, strataCol: String,
      textCol: String, smoothing: Double = 0.5): DataFrame = {
    require(smoothing > 0, "smoothing must be positive")
    val counts = graft.core.PipelineCaches.persistTracked(
      df.select(col(strataCol).as("stratum"),
          explode(filter(split(normalize(col(textCol)), " "),
            t => length(t) > 0)).as("tok"))
        .groupBy("stratum", "tok").agg(count(lit(1)).as("c")))
    val totals = counts.groupBy("stratum")
      .agg(sum("c").as("n"))
    val vocab = counts.select("tok").distinct()
      .agg(count(lit(1)).as("v"))
    val pa = counts.select(col("stratum").as("sa"), col("tok"),
      col("c").as("ca"))
    val qb = counts.select(col("stratum").as("sb"), col("tok"),
      col("c").as("cb"))
    // shared-vocab partial sums per ordered pair
    val shared = pa.join(qb, "tok")
      .groupBy("sa", "sb")
      .agg(count(lit(1)).as("shared_types"), sum("ca").as("ca_shared"),
        sum(col("ca") *
          log((col("cb") + smoothing))).as("num_part"))
    val grid = totals.select(col("stratum").as("sa"), col("n").as("na"))
      .crossJoin(totals.select(col("stratum").as("sb"),
        col("n").as("nb")))
      .crossJoin(broadcast(vocab))
    grid.join(shared, Seq("sa", "sb"), "left")
      .select(col("sa").as("stratum_a"), col("sb").as("stratum_b"),
        coalesce(col("shared_types"), lit(0L)).as("shared_types"),
        // H = ln(Nb + αV) − (Σ_shared ca·ln(cb+α) + absent·ln α)/Na
        (log(col("nb") + lit(smoothing) * col("v")) -
          (coalesce(col("num_part"), lit(0.0)) +
            (col("na") - coalesce(col("ca_shared"), lit(0L))) *
              log(lit(smoothing))) / col("na"))
          .as("cross_entropy"))
  }
}
