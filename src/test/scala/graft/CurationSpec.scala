package graft

import org.apache.spark.sql.functions._
import graft.ml.{Calibrate, GenEval, Keywords, Preference}

/** Hand-computed references for the round-8 curation/eval operators:
  * RAKE, TextRank, chrF, Holt–Winters, conformal intervals, DPO
  * pairs — plus regression cases for the WER prefix/suffix-strip +
  * token-interning optimization (the S/D/I decomposition must be
  * unchanged by the strip).
  */
class CurationSpec extends SparkSpec {

  test("gate names are unique across query groups") {
    // a duplicate name silently shadows the earlier gate in the
    // queries Map (caught live in round 8: a second q_events_rfm)
    val names = graft.SparkEntry.queries.keySet
    val defs = graft.SparkEntry.groups.flatMap(_.all.map(_.name))
    val dups = defs.groupBy(identity).filter(_._2.size > 1).keys.toSeq
    assert(dups.isEmpty, s"duplicate gate names: $dups")
    assert(names.size === defs.size)
  }

  test("rake: stopword-delimited phrases scored deg/freq") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox and the lazy dog of doom"),
      (2L, "alpha beta the alpha beta"))
      .toDF("doc_id", "text")
    val got = Keywords.rake(df, "doc_id", "text", maxPhraseLen = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    // doc 1: phrases (quick brown fox), (lazy dog), (doom); every word
    // unique → wscore = phrase len; phrase score = len².
    // doc 2: "alpha beta" twice → freq 2 / deg 4 per word → wscore 2,
    // phrase score 4, ONE output row for the repeated phrase.
    assert(got === Set(
      (1L, "quick brown fox", 3L, 9.0),
      (1L, "lazy dog", 2L, 4.0),
      (1L, "doom", 1L, 1.0),
      (2L, "alpha beta", 2L, 4.0)))
  }

  test("rake: phrases longer than maxPhraseLen are dropped") {
    import spark.implicits._
    val df = Seq((1L, "one two three four five")).toDF("doc_id", "text")
    assert(Keywords.rake(df, "doc_id", "text", maxPhraseLen = 4).count() === 0)
    assert(Keywords.rake(df, "doc_id", "text", maxPhraseLen = 5).count() === 1)
  }

  test("textrank: symmetric pair converges to uniform, isolated word keeps the teleport floor") {
    import spark.implicits._
    val df = Seq((1L, "xx yy"), (2L, "zz")).toDF("doc_id", "text")
    val got = Keywords.textRank(df, "doc_id", "text", damping = 0.85,
      iters = 10).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet === Set("xx", "yy", "zz"))
    // zz has no edges: exactly the floor (1-d)/3 every iteration
    assert(math.abs(got("zz") - 0.05) < 1e-12)
    // xx/yy are symmetric (bit-identical) and approach 1/3 fixpoint
    assert(got("xx") === got("yy"))
    assert(math.abs(got("xx") - 1.0 / 3) < 0.01)
  }

  test("chrF: identical pair scores 1, disjoint 0, partial matches hand math") {
    import spark.implicits._
    val df = Seq(
      (1L, "abc", "abc"),
      (2L, "abc", "xyz"),
      (3L, "ab", "abab")).toDF("id", "cand", "ref")
    val got = GenEval.chrF(df, "id", "cand", "ref", maxN = 2, beta = 2.0)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got(1L) === ((1.0, 1.0, 1.0)))
    assert(got(2L) === ((0.0, 0.0, 0.0)))
    // cand=ab ref=abab: P1=1, R1=1/2; P2=1, R2=1/3 → P=1, R=5/12,
    // F2 = 5PR/(4P+R) = 25/53
    val (p, r, f) = got(3L)
    assert(math.abs(p - 1.0) < 1e-12)
    assert(math.abs(r - 5.0 / 12) < 1e-12)
    assert(math.abs(f - 25.0 / 53) < 1e-12)
  }

  test("wer: strip+intern keeps the exact S/D/I decomposition") {
    import spark.implicits._
    val df = Seq(
      (1L, "a x c", "a b c"), // one substitution inside common affixes
      (2L, "b c", "a b c d"), // two deletions
      (3L, "x y a b z", "a b"), // three insertions, no strip possible
      (4L, "a b c", "a b c"), // identical → fully stripped
      (5L, "", "a b")) // empty candidate
      .toDF("id", "cand", "ref")
    val got = GenEval.wer(df, "id", "cand", "ref")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
          r.getDouble(7)))).toMap
    assert(got(1L) === ((1, 1, 0, 0, 1.0 / 3)))
    assert(got(2L) === ((2, 0, 2, 0, 0.5)))
    assert(got(3L) === ((3, 0, 0, 3, 1.5)))
    assert(got(4L) === ((0, 0, 0, 0, 0.0)))
    assert(got(5L) === ((2, 0, 2, 0, 1.0)))
  }

  test("holtWinters: recursion matches the hand-unrolled updates") {
    import spark.implicits._
    // counts 1..6 in buckets 0..5 (periodSec=1), seasonLen=2
    val rows = (0 until 6).flatMap(b => Seq.fill(b + 1)(("k", b.toLong)))
    val df = rows.toDF("key", "sec")
    val got = graft.events.Events.holtWinters(df, "key", "sec",
      periodSec = 1L, seasonLen = 2, alpha = 0.3, beta = 0.1, gamma = 0.2)
      .orderBy("bucket").collect()
    assert(got.length === 4) // t = 2..5
    val r0 = got(0) // t=2: l0=1.5 b0=1 s=[-0.5,0.5]
    assert(r0.getLong(1) === 2L && r0.getDouble(2) === 3.0)
    assert(math.abs(r0.getDouble(3) - 2.8) < 1e-12) // level
    assert(math.abs(r0.getDouble(4) - 1.03) < 1e-12) // trend
    assert(math.abs(r0.getDouble(5) - (-0.36)) < 1e-12) // seasonal
    assert(math.abs(r0.getDouble(6) - 2.0) < 1e-12) // fitted
    val r1 = got(1) // t=3
    assert(math.abs(r1.getDouble(3) - 3.731) < 1e-12)
    assert(math.abs(r1.getDouble(4) - 1.0201) < 1e-12)
    assert(math.abs(r1.getDouble(5) - 0.4538) < 1e-12)
    assert(math.abs(r1.getDouble(6) - 4.33) < 1e-12)
  }

  test("holtWinters: series shorter than two seasons are dropped, gaps zero-fill") {
    import spark.implicits._
    val short = Seq(("s", 0L), ("s", 1L), ("s", 2L)).toDF("key", "sec")
    assert(graft.events.Events.holtWinters(short, "key", "sec", 1L, 2)
      .count() === 0)
    // buckets 0 and 3 only → dense range 0..3 with zeros in 1,2
    val gappy = Seq(("g", 0L), ("g", 3L)).toDF("key", "sec")
    val got = graft.events.Events.holtWinters(gappy, "key", "sec", 1L, 2)
      .orderBy("bucket").collect()
    assert(got.map(_.getLong(1)).toSeq === Seq(2L, 3L))
    assert(got.map(_.getDouble(2)).toSeq === Seq(0.0, 1.0))
  }

  test("conformal: discrete k-th order statistic and coverage") {
    import spark.implicits._
    val cal = (1 to 10).map(i => ("g", i.toDouble)).toDF("grp", "s")
    val ev = Seq(("g", 5.0), ("g", 9.0), ("g", 9.5), ("g", 10.0))
      .toDF("grp", "s")
    val got = Calibrate.conformal(cal, "grp", "s", alpha = 0.2,
      evalDf = Some(ev)).collect().head
    // k = ceil(11 * 0.8) = 9 → qhat = 9; covered: 5, 9
    assert(got.getLong(1) === 10L && got.getLong(2) === 9L)
    assert(got.getDouble(3) === 9.0)
    assert(got.getLong(4) === 4L && got.getLong(5) === 2L)
    assert(got.getDouble(6) === 0.5)
  }

  test("conformal: k > n yields NULL radius = infinite interval, full coverage") {
    import spark.implicits._
    val cal = Seq(("g", 1.0), ("g", 2.0)).toDF("grp", "s")
    val ev = Seq(("g", 100.0)).toDF("grp", "s")
    val got = Calibrate.conformal(cal, "grp", "s", alpha = 0.2,
      evalDf = Some(ev)).collect().head
    assert(got.getLong(2) === 3L) // k = ceil(3*0.8) = 3 > n = 2
    assert(got.isNullAt(3))
    assert(got.getLong(5) === 1L && got.getDouble(6) === 1.0)
  }

  test("dpoPairs: outside-in pairing, margin floor, odd-group center unused") {
    import spark.implicits._
    val df = Seq(
      ("p1", "r1", 10.0), ("p1", "r2", 1.0), ("p1", "r3", 7.0),
      ("p1", "r4", 3.0), ("p1", "r5", 5.0),
      ("p2", "a", 4.0), ("p2", "b", 2.0), ("p2", "c", 3.0))
      .toDF("prompt", "resp", "score")
    val all = Preference.dpoPairs(df, "prompt", "resp", "score",
      minMargin = 0.0, maxPairsPerPrompt = 2)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getDouble(6))).toSet
    assert(all === Set(
      ("p1", 1, "r1", "r2", 9.0), ("p1", 2, "r3", "r4", 4.0),
      ("p2", 1, "a", "b", 2.0))) // n=3: only one non-crossing pair
    val margined = Preference.dpoPairs(df, "prompt", "resp", "score",
      minMargin = 5.0, maxPairsPerPrompt = 2).collect()
    assert(margined.map(r => (r.getString(0), r.getString(2))).toSet ===
      Set(("p1", "r1")))
  }

  test("anovaF: textbook two-group and degenerate cases") {
    import spark.implicits._
    // groups {1,2,3} and {4,5,6}: means 2 and 5, grand 3.5
    // SSB = 3(2-3.5)^2 + 3(5-3.5)^2 = 13.5; SSW = 2+2 = 4
    // F = (13.5/1)/(4/4) = 13.5
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 4.0), ("b", 5.0), ("b", 6.0)).toDF("g", "x")
    val r = graft.ml.Eval.anovaF(df, "x", "g").collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 6L)
    assert(math.abs(r.getDouble(2) - 13.5) < 1e-9)
    assert(math.abs(r.getDouble(3) - 4.0) < 1e-9)
    assert(math.abs(r.getDouble(4) - 13.5) < 1e-9)
    assert(math.abs(r.getDouble(5) - 13.5 / 17.5) < 1e-9)
    // one group → F undefined
    val one = Seq(("a", 1.0), ("a", 2.0)).toDF("g", "x")
    assert(graft.ml.Eval.anovaF(one, "x", "g").collect().head.isNullAt(4))
  }

  test("bhFdr: step-up adjustment matches the textbook example") {
    import spark.implicits._
    // classic: p = .01 .04 .03 .005 with m=4 →
    // sorted .005 .01 .03 .04; p*m/i = .02 .02 .04 .04
    // running min from the tail: .02 .02 .04 .04
    val df = Seq(("t1", 0.01), ("t2", 0.04), ("t3", 0.03), ("t4", 0.005))
      .toDF("test", "p")
    val got = graft.ml.Eval.bhFdr(df, "test", "p", alpha = 0.05)
      .collect().map(r => r.getString(0) ->
        ((r.getInt(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(got("t4") === ((1, 0.02, true)))
    assert(got("t1") === ((2, 0.02, true)))
    assert(got("t3") === ((3, 0.04, true)))
    assert(got("t2") === ((4, 0.04, true)))
    // adjusted values clamp at 1
    val high = Seq(("a", 0.9), ("b", 0.99)).toDF("test", "p")
    assert(graft.ml.Eval.bhFdr(high, "test", "p").collect()
      .forall(r => r.getDouble(3) <= 1.0))
  }

  test("rfmSegments: tie-coherent buckets and score orientation") {
    import spark.implicits._
    // 10 users, user i has (i+1) events at sec = 100*i (last event),
    // value 10*(i+1) total → higher i = more recent, more frequent,
    // higher spend → all three scores increase with i
    val rows = (0 until 10).flatMap { i =>
      (0 to i).map(j => (i.toLong, 100L * i - j, 10.0))
    }
    val df = rows.toDF("u", "sec", "v")
    val got = graft.events.Events.rfmSegments(df, "u", "sec", "v",
      asOfSec = 10000L, k = 5)
      .orderBy("user").collect()
    val r = got.map(_.getInt(4)); val f = got.map(_.getInt(5))
    val m = got.map(_.getInt(6))
    // 10 distinct values into 5 buckets → exactly 2 users per bucket
    assert(r.toSeq === Seq(1, 1, 2, 2, 3, 3, 4, 4, 5, 5))
    assert(f.toSeq === r.toSeq && m.toSeq === r.toSeq)
    assert(got.head.getString(7) === "111" && got.last.getString(7) === "555")
    // ties: all users same monetary → all land in bucket 1 together
    val tied = Seq((1L, 10L, 5.0), (2L, 20L, 5.0), (3L, 30L, 5.0))
      .toDF("u", "sec", "v")
    val tg = graft.events.Events.rfmSegments(tied, "u", "sec", "v",
      asOfSec = 100L, k = 5).collect()
    assert(tg.map(_.getInt(6)).toSet === Set(1))
  }

  test("sequentialPatterns: ordered n-grams with occurrence and user counts") {
    import spark.implicits._
    val df = Seq(
      (1L, 1L, 10L, "a"), (1L, 2L, 11L, "b"), (1L, 3L, 12L, "a"),
      (1L, 4L, 13L, "b"),
      (2L, 1L, 20L, "a"), (2L, 2L, 21L, "b"), (2L, 3L, 22L, "c"))
      .toDF("u", "sec", "eid", "t")
    val got = graft.events.Events.sequentialPatterns(df, "u", "sec", "eid",
      "t", n = 2).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("a>b") === ((3L, 2L))) // twice for user 1, once for user 2
    assert(got("b>a") === ((1L, 1L)))
    assert(got("b>c") === ((1L, 1L)))
    assert(!got.contains("a>c"))
  }

  test("quantileNormalize: rank-to-pooled-order-statistic mapping") {
    import spark.implicits._
    // strata A = {1,2,3,4}, B = {10,20} → pooled sorted:
    // 1,2,3,4,10,20 (N=6). B's rank 1 → pos ceil(1*6/2)=3 → value 3;
    // B's rank 2 → pos 6 → 20. A's rank r → pos ceil(r*6/4)
    val df = Seq((1L, "A", 1.0), (2L, "A", 2.0), (3L, "A", 3.0),
      (4L, "A", 4.0), (5L, "B", 10.0), (6L, "B", 20.0))
      .toDF("id", "s", "v")
    val got = graft.ml.Profile.quantileNormalize(df, "id", "s", "v")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(4), r.getDouble(5)))).toMap
    assert(got(5L) === ((3L, 3.0)))
    assert(got(6L) === ((6L, 20.0)))
    assert(got(1L) === ((2L, 2.0))) // ceil(6/4)=2
    assert(got(4L) === ((6L, 20.0)))
    // every row mapped exactly once
    assert(got.size === 6)
  }

  test("featureHash: md5 buckets, sign cancellation, sparse output") {
    import spark.implicits._
    val df = Seq((1L, "alpha alpha beta")).toDF("id", "text")
    val got = graft.ml.Features.featureHash(df, "id", "text", dim = 64)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    def h(t: String): (Long, Long) = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val idx = java.lang.Long.parseLong(md5.substring(0, 8), 16) % 64
      val sign = if (md5.charAt(8) < '8') 1L else -1L
      (idx, sign)
    }
    val (ia, sa) = h("alpha"); val (ib, sb) = h("beta")
    if (ia != ib) {
      assert(got(ia) === 2 * sa && got(ib) === sb)
    } else assert(got(ia) === 2 * sa + sb)
  }

  test("tokenLabelMI: perfectly label-identifying token maximizes MI, uniform token scores 0") {
    import spark.implicits._
    // 4 docs, 2 labels; "xx" only in label a docs, "cc" in all
    val df = Seq((1L, "xx cc", "a"), (2L, "xx cc", "a"),
      (3L, "cc dd", "b"), (4L, "cc dd", "b")).toDF("id", "text", "lab")
    val got = graft.ml.Features.tokenLabelMI(df, "id", "text", "lab")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // cc present everywhere → MI 0; xx/dd perfectly split → ln2
    assert(math.abs(got("cc")) < 1e-12)
    assert(math.abs(got("xx") - math.log(2)) < 1e-12)
    assert(math.abs(got("dd") - math.log(2)) < 1e-12)
  }

  test("woeEncode: hand-computed WOE/IV with Laplace smoothing") {
    import spark.implicits._
    val df = Seq(("a", 1), ("a", 1), ("a", 0), ("b", 0), ("b", 0),
      ("b", 1)).toDF("c", "y")
    val got = graft.ml.Features.woeEncode(df, "c", "y").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // G = 3, B = 3; a: good 2 bad 1 → woe = ln((2.5/3)/(1.5/3)) = ln(5/3)
    val (ga, ba, wa) = got("a")
    assert(ga === 2L && ba === 1L)
    assert(math.abs(wa - math.log(2.5 / 1.5)) < 1e-12)
    val (_, _, wb) = got("b")
    assert(math.abs(wb - math.log(1.5 / 2.5)) < 1e-12)
  }

  test("heapsFit: hand-computed two-checkpoint fit") {
    import spark.implicits._
    val df = Seq((1L, "aa bb"), (2L, "aa cc"), (3L, "aa dd"),
      (4L, "aa bb cc dd ee")).toDF("doc_id", "text")
    val got = graft.ml.TextAnalysis.heapsFit(df, "doc_id", "text",
      checkpoints = 2).orderBy("checkpoint").collect()
    // cp1 = first 2 docs: 4 tokens, vocab {aa,bb,cc} = 3
    // cp2 = all 4 docs: 11 tokens, vocab 5
    assert(got.map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((4L, 3L), (11L, 5L)))
    val beta = got.head.getDouble(3)
    val expected = (math.log(5) - math.log(3)) /
      (math.log(11) - math.log(4))
    assert(math.abs(beta - expected) < 1e-9)
    assert(math.abs(got.head.getDouble(5) - 1.0) < 1e-9) // 2 points: r2=1
  }

  test("burrowsDelta: two mirrored strata score delta 2 on the shared vocabulary") {
    import spark.implicits._
    val df = Seq(("A", "xx xx yy"), ("B", "xx yy yy"))
      .toDF("src", "text")
    val got = graft.ml.TextAnalysis.burrowsDelta(df, "src", "text",
      topM = 2).collect()
    assert(got.length === 1)
    // f_A(xx)=2/3 f_B(xx)=1/3 → z = ±1 for both words → mean |Δz| = 2
    assert(got.head.getString(0) === "A" && got.head.getString(1) === "B")
    assert(math.abs(got.head.getDouble(2) - 2.0) < 1e-9)
  }

  test("lshQualityReport: planted near-dup pairs are all recalled") {
    import spark.implicits._
    val base = (0 until 4).map { i =>
      (0 until 30).map(j => s"w${i}_$j").mkString(" ")
    }
    // two near-dup pairs: docs 10/11 share doc 0's text (one truncated)
    val rows = base.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      Seq((10L, base(0)), (11L, base(1).split(" ").dropRight(2)
        .mkString(" ")))
    val df = rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
    val got = graft.ml.Dedup.lshQualityReport(df, "doc_id", "text",
      threshold = 0.7, blockCols = Seq("lang", "source")).collect().head
    assert(got.getLong(0) === 2L) // n_truth
    assert(got.getLong(1) === 2L) // n_found
    assert(got.getDouble(2) === 1.0 && got.getBoolean(3))
  }

  test("lshQualityReport audits the banding it is given") {
    import spark.implicits._
    // ten pairs: the second doc swaps the last 6 of 40 words, so the
    // pair's Jaccard is ~0.73 on 2- and 3-word shingles
    val rows = (0 until 10).flatMap { i =>
      val words = (0 until 40).map(j => s"w${i}_$j")
      Seq((2L * i, words.mkString(" ")),
        (2L * i + 1, (words.take(34) ++ (0 until 6).map(j => s"x${i}_$j")).mkString(" ")))
    }
    val df = rows.toDF("doc_id", "text").withColumn("lang", lit("en"))
    def report(cfg: (Int, Int, Int, Long)) = graft.ml.Dedup.lshQualityReport(
      df, "doc_id", "text", threshold = 0.6, blockCols = Seq("lang"),
      nHashes = cfg._1, bands = cfg._2, shingleWidth = cfg._3, seed = cfg._4)
      .collect().head
    // the default 32×4 banding catches every pair at s ≈ 0.73
    val dflt = report((128, 32, 2, 42L))
    assert(dflt.getLong(0) === 10L && dflt.getLong(1) === 10L)
    // one band of 16 rows admits a pair at s ≈ 0.73 with p ≈ 0.7 %
    val strict = report((16, 1, 3, 7L))
    assert(strict.getLong(0) === 10L)
    assert(strict.getLong(1) < 10L && !strict.getBoolean(3))
    assert(strict.getLong(1) === graft.ml.Dedup.minHashNearDuplicates(df,
      "doc_id", "text", threshold = 0.6, nHashes = 16, bands = 1,
      shingleWidth = 3, seed = 7L).count())
    graft.core.PipelineCaches.unpersistAll()
  }

  test("matryoshkaRecall: full-width truncation recalls everything") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.9f, 0.1f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("id", "vec")
    val got = graft.ml.Similarity.matryoshkaRecall(vecs,
      vecs.filter(col("id") === 0), dims = Seq(4, 1), k = 2)
      .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    // dim 4 = the full vectors → recall 1 by construction
    assert(got(4) === 1.0)
    // dim 1: neighbors ranked by first component only; vec 1 (0.9)
    // still top, but 2/3/4 tie at 0 → tie-break by id keeps cid 2,
    // while full-dim top-2 is {1, 2}... both present → recall 1;
    // assert bounds rather than exact second place
    assert(got(1) >= 0.5)
  }

  test("soundex: canonical NARA vectors incl. the H/W-transparency rule") {
    import spark.implicits._
    val cases = Seq(
      "Robert" -> "R163", "Rupert" -> "R163", "Jackson" -> "J250",
      // S,C separated by H collapse (A261, not A226); same for
      // Pf (both code 1) and the Tymczak vowel separators
      "Ashcraft" -> "A261", "Ashcroft" -> "A261",
      "Pfister" -> "P236", "Tymczak" -> "T522",
      "Honeyman" -> "H555", "Washington" -> "W252",
      "Lee" -> "L000", "Gutierrez" -> "G362", "o'brien" -> "O165")
    val df = cases.map(_._1).toDF("w")
      .select(col("w"), graft.ml.Linkage.soundex(col("w")).as("c"))
    val got = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (w, want) =>
      assert(got(w) === want, s"soundex($w)")
    }
    // no letters at all → NULL key (never a fake block)
    val nulls = Seq("123", "").toDF("w")
      .select(graft.ml.Linkage.soundex(col("w"))).collect()
    assert(nulls.forall(_.isNullAt(0)))
  }

  test("phoneticPairs: same-code candidates, oversized blocks dropped whole") {
    import spark.implicits._
    val names = Seq("Robert", "Rupert", "Smith", "Smyth", "Lee")
      .toDF("name")
    val got = graft.ml.Linkage.phoneticPairs(names, "name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    assert(got === Set(("R163", "Robert", "Rupert"),
      ("S530", "Smith", "Smyth")))
    // cap = 2 drops the 3-name block entirely, keeps the pair block
    val skew = Seq("Robert", "Rupert", "Rubard", "Smith", "Smyth")
      .toDF("name")
    val capped = graft.ml.Linkage.phoneticPairs(skew, "name",
      maxBlock = 2).collect()
    assert(capped.map(_.getString(0)).toSet === Set("S530"))
  }

  test("autocorrelation: hand ACF + Ljung-Box on an alternating series") {
    import spark.implicits._
    // buckets 0..5 (periodSec=1): counts 2,1,2,1,2,1 — alternation
    // means r1 < 0, r2 > 0; hand values from the textbook formula
    val secs = Seq.tabulate(6)(identity).flatMap(t =>
      Seq.fill(if (t % 2 == 0) 2 else 1)(t.toLong))
    val df = secs.toDF("sec")
    val got = graft.events.Events.autocorrelation(df, "sec", 1L, 2)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    // ȳ = 1.5, dy = ±.5; Σdy² = 1.5
    // r1 = Σ_{t=0..4} dy_t·dy_{t+1} / 1.5 = (5·(-0.25))/1.5 = -5/6
    // r2 = (4·0.25)/1.5 = 2/3
    assert(math.abs(got(1L)._1 - (-5.0 / 6)) < 1e-12)
    assert(math.abs(got(2L)._1 - 2.0 / 3) < 1e-12)
    // Q(1) = n(n+2)·r1²/(n−1) = 6·8·(25/36)/5
    assert(math.abs(got(1L)._2 - 48.0 * (25.0 / 36) / 5) < 1e-9)
    assert(got(2L)._2 > got(1L)._2) // Q is cumulative
  }

  test("mannKendall: strictly increasing series has S = C(n,2), positive Z, exact Sen slope") {
    import spark.implicits._
    // counts 1,2,3,4 over buckets 0..3: every pair concordant
    val secs = (0 to 3).flatMap(t => Seq.fill(t + 1)(t.toLong))
    val got = graft.events.Events.mannKendall(secs.toDF("sec"), "sec", 1L)
      .collect().head
    assert(got.getLong(0) === 4L)     // n
    assert(got.getLong(1) === 6L)     // S = C(4,2)
    // no ties: Var = 4·3·13/18
    assert(math.abs(got.getDouble(2) - 4.0 * 3 * 13 / 18) < 1e-12)
    assert(got.getDouble(3) > 0)
    // all pairwise slopes are exactly 1
    assert(got.getDouble(4) === 1.0)
  }

  test("postStratifiedAte: hand two-stratum recombination, one-armed stratum excluded") {
    import spark.implicits._
    val rows = Seq(
      // stratum A: T mean 4 (2,6), C mean 1 (0,2) → diff 3, n=4
      ("u1", 1, "A", 2.0), ("u2", 1, "A", 6.0),
      ("u3", 0, "A", 0.0), ("u4", 0, "A", 2.0),
      // stratum B: T mean 10, C mean 4 → diff 6, n=4
      ("u5", 1, "B", 10.0), ("u6", 1, "B", 10.0),
      ("u7", 0, "B", 4.0), ("u8", 0, "B", 4.0),
      // stratum C: control only → excluded, flagged unused
      ("u9", 0, "C", 99.0))
      .toDF("user", "variant", "stratum", "metric")
    val got = graft.events.Events.postStratifiedAte(rows, "variant",
      "metric", "stratum").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("C").getBoolean(8) === false)
    assert(got("C").isNullAt(7)) // no weight
    // ATE = .5·3 + .5·6 = 4.5 (C's users excluded from N)
    assert(math.abs(got("A").getDouble(9) - 4.5) < 1e-12)
    assert(got("A").getDouble(9) === got("B").getDouble(9))
    // SE² = Σ w²(v_t/n_t + v_c/n_c): A has v_t=4,v_c=1; B v=0
    val se = math.sqrt(0.25 * (4.0 / 2 + 1.0 / 2))
    assert(math.abs(got("A").getDouble(10) - se) < 1e-12)
  }

  test("simplifiedSilhouette: separated clusters near 1, misassigned cluster negative") {
    import spark.implicits._
    val rows = Seq(
      (0L, Array(0f, 0f)), (0L, Array(0f, 2f)),
      (1L, Array(10f, 0f)), (1L, Array(10f, 2f)),
      // cluster 2 sits ON cluster 1's mass → a > b, negative sil
      (2L, Array(10f, 1f)), (2L, Array(0f, 1f)))
      .toDF("cluster", "vec")
    val got = graft.ml.Similarity.simplifiedSilhouette(rows, "cluster",
      "vec").collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(got(0L) > 0.7 && got(1L) > 0.7)
    assert(got(2L) < 0)
    // over-cap cluster count (e.g. a unique id passed as the cluster
    // column) fails loudly before collecting a centroid per row
    val e = intercept[IllegalArgumentException] {
      graft.ml.Similarity.simplifiedSilhouette(rows, "cluster", "vec",
        maxClusters = 2)
    }
    assert(e.getMessage.contains("clusters"))
  }

  test("sStem: the three guarded Harman rules, first match wins") {
    import spark.implicits._
    val cases = Seq(
      "flies" -> "fly", "studies" -> "study",
      // 'eies'/'aies' guards block rule 1 → fall through to rule 3
      "eies" -> "eie", "daies" -> "daie",
      "arches" -> "arche", "dogs" -> "dog",
      // 'ees'/'oes'/'aes' guards block rule 2 → rule 3 still drops s
      "trees" -> "tree", "goes" -> "goe",
      // 'us'/'ss' endings never stem
      "focus" -> "focus", "glass" -> "glass",
      "table" -> "table")
    val got = cases.map(_._1).toDF("w")
      .select(col("w"), graft.ml.TextAnalysis.sStem(col("w")).as("s"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (w, want) => assert(got(w) === want, w) }
  }

  test("kwic: context windows clamp at both document edges") {
    import spark.implicits._
    val df = Seq((1L, "spark b c spark d")).toDF("doc_id", "text")
    val got = graft.ml.TextAnalysis.kwic(df, "doc_id", "text",
      term = "spark", window = 2)
      .collect().map(r => (r.getInt(1), r.getString(2), r.getString(3)))
      .toSet
    assert(got === Set((0, "", "b c"), (3, "b c", "d")))
  }

  test("phraseSearch: consecutive positions only, repeated hits counted") {
    import spark.implicits._
    val df = Seq(
      (1L, "x y x y x"),     // "x y" at 0 and 2
      (2L, "x z y"),          // x and y present but not adjacent
      (3L, "y x")).toDF("doc_id", "text")
    val got = graft.ml.TextIndex.phraseSearch(df, "doc_id", "text",
      Seq("x", "y")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 2L, 0L)))
    // three-term phrase chains two position joins
    val tri = graft.ml.TextIndex.phraseSearch(df, "doc_id", "text",
      Seq("x", "y", "x")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(tri === Set((1L, 2L, 0L)))
  }

  test("powerLawAlpha: hand Hill estimate on a star graph") {
    import spark.implicits._
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
      .toDF("src", "dst")
    val got = graft.graph.Graphs.powerLawAlpha(star, xmin = 2L)
      .collect().head
    // only the hub (degree 4) is in the tail
    assert(got.getLong(1) === 1L)
    val alpha = 1.0 + 1.0 / math.log(4.0 / 1.5)
    assert(math.abs(got.getDouble(2) - alpha) < 1e-12)
    assert(math.abs(got.getDouble(3) - (alpha - 1.0)) < 1e-12)
  }

  test("cronbachAlpha: perfectly correlated items, incomplete subject dropped") {
    import spark.implicits._
    val df = Seq(
      (1L, "i1", 1.0), (1L, "i2", 2.0),
      (2L, "i1", 2.0), (2L, "i2", 4.0),
      (3L, "i1", 3.0), (3L, "i2", 6.0),
      (4L, "i1", 9.9)) // missing i2 → excluded
      .toDF("subj", "item", "v")
    val got = graft.ml.Eval.cronbachAlpha(df, "subj", "item", "v")
      .collect().head
    assert(got.getLong(0) === 2L && got.getLong(1) === 3L)
    // var1 = 2/3, var2 = 8/3, var(total) = 6 → α = 2(1 − (10/3)/6)
    assert(math.abs(got.getDouble(2) - 8.0 / 9) < 1e-12)
  }

  test("passAtK: hand combinatorics incl. the short and undefined branches") {
    import spark.implicits._
    // problem A: n=4, c=2; problem B: n=4, c=0
    val df = (Seq.fill(2)(("A", true)) ++ Seq.fill(2)(("A", false)) ++
      Seq.fill(4)(("B", false))).toDF("problem", "ok")
    val got = graft.ml.Eval.passAtK(df, "problem", "ok",
      ks = Seq(1, 2, 3, 5)).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(got(("A", 1)).exists(v => math.abs(v - 0.5) < 1e-12))
    // 1 − C(2,2)/C(4,2) = 1 − 1/6
    assert(got(("A", 2)).exists(v => math.abs(v - 5.0 / 6) < 1e-12))
    assert(got(("A", 3)) === Some(1.0)) // n−c < k → certain hit
    assert(got(("A", 5)) === None)      // k > n → undefined
    assert(got(("B", 1)).exists(v => math.abs(v) < 1e-12))
    assert(got(("B", 3)).exists(v => math.abs(v) < 1e-12))
  }

  test("oovRate: per-stratum coverage against an explicit vocab") {
    import spark.implicits._
    val docs = Seq(("s1", "aa aa bb cc"), ("s2", "cc cc"))
      .toDF("source", "text")
    val vocab = Seq("aa", "bb").toDF("tk")
    val got = graft.ml.TextAnalysis.oovRate(docs, "source", "text",
      vocab, "tk").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(got("s1") === ((4L, 1L, 0.25)))
    assert(got("s2") === ((2L, 2L, 1.0)))
  }

  test("procrustesAlign: recovers a planted rotation, rejects rank deficiency") {
    import spark.implicits._
    // y = x rotated 90°: (x1, x2) → (−x2, x1); W = [[0,1],[−1,0]]
    val xs = Seq(Array(1f, 0f), Array(0f, 1f), Array(2f, 3f),
      Array(-1f, 4f))
    val pairs = xs.zipWithIndex.map { case (x, i) =>
      (i.toLong, x, Array(-x(1), x(0)))
    }.toDF("id", "a", "b")
    val w = graft.ml.Similarity.procrustesAlign(pairs, "a", "b", 2)
    val want = Array(Array(0.0, 1.0), Array(-1.0, 0.0))
    for (i <- 0 until 2; j <- 0 until 2)
      assert(math.abs(w(i)(j) - want(i)(j)) < 1e-9, s"W($i)($j)")
    // applyAlign lands each a on its b
    val aligned = graft.ml.Similarity.applyAlign(
      pairs.select(col("id"), col("a").as("vec")), "id", "vec", w)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    pairs.collect().foreach { r =>
      val b = r.getSeq[Float](2)
      val got = aligned(r.getLong(0))
      b.zip(got).foreach { case (x, y) => assert(math.abs(x - y) < 1e-5) }
    }
    // all mass on one axis → rank-deficient M → documented throw
    val degen = Seq((0L, Array(1f, 0f), Array(1f, 0f)),
      (1L, Array(2f, 0f), Array(2f, 0f))).toDF("id", "a", "b")
    intercept[IllegalStateException] {
      graft.ml.Similarity.procrustesAlign(degen, "a", "b", 2)
    }
  }

  test("normalizeGain: exact scale, silence no-op, bit-depth clamp") {
    import graft.ml.AudioCodec
    val a = AudioCodec.Audio(8000, 1, 16, Array(3, 4))
    // rms = sqrt(12.5); target 2·rms → every sample exactly doubles
    val g = AudioCodec.normalizeGain(a, 2.0 * math.sqrt(12.5))
    assert(g.samples.toSeq === Seq(6, 8))
    val silent = AudioCodec.Audio(8000, 1, 16, Array(0, 0, 0))
    assert(AudioCodec.normalizeGain(silent, 1000.0).samples.toSeq ===
      Seq(0, 0, 0))
    val hot = AudioCodec.normalizeGain(
      AudioCodec.Audio(8000, 1, 16, Array(1, -1)), 1e9)
    assert(hot.samples.toSeq === Seq(32767, -32768))
  }

  test("seasonalAnomalies: the planted spike is flagged, the cycle is not") {
    import spark.implicits._
    // 48 hourly buckets alternating 1/3 events, one bucket burst to 40
    val secs = (0 until 48).flatMap { b =>
      val base = if (b % 2 == 0) 1 else 3
      val n = if (b == 24) 40 else base
      Seq.fill(n)(b * 3600L + 5L)
    }
    val got = graft.events.Events.seasonalAnomalies(secs.toDF("sec"),
      "sec", periodSec = 3600L, seasonLen = 2, zThreshold = 3.0)
      .collect().map(r => r.getLong(0) -> r.getBoolean(7)).toMap
    assert(got(24L) === true)
    assert(got.count(_._2) <= 3) // the spike (plus its trend spill)
    assert(got.filterKeys(k => k < 20 || k > 30).forall(!_._2))
  }

  test("err: hand cascade sums, saturation zeroes the tail") {
    import spark.implicits._
    val df = Seq(("q", 1L, 1), ("q", 2L, 0), ("q", 3L, 1))
      .toDF("query", "rank", "rel")
    val got = graft.ml.Eval.expectedReciprocalRank(df, "query", "rank",
      "rel", maxGrade = 1).collect().head
    // R = (.5, 0, .5): ERR = .5 + 0 + (.5/3)·.5 = .5 + 1/12
    assert(math.abs(got.getDouble(2) - (0.5 + 1.0 / 12)) < 1e-12)
    // out-of-contract rel > maxGrade → R ≥ 1 at rank 1: the
    // saturation guard zeroes the tail instead of ln(1−R) → NaN
    val sat = Seq(("q", 1L, 2), ("q", 2L, 1)).toDF("query", "rank", "rel")
    val g2 = graft.ml.Eval.expectedReciprocalRank(sat, "query", "rank",
      "rel", maxGrade = 1).collect().head
    assert(g2.getDouble(2) === 1.5 && !g2.getDouble(2).isNaN)
  }

  test("rbp: hand geometric weighting") {
    import spark.implicits._
    val df = Seq(("q", 1L, 1), ("q", 2L, 0), ("q", 3L, 1))
      .toDF("query", "rank", "rel")
    val got = graft.ml.Eval.rankBiasedPrecision(df, "query", "rank",
      "rel", p = 0.5).collect().head
    assert(math.abs(got.getDouble(2) - 0.625) < 1e-12)
  }

  test("queryLikelihood: hand Dirichlet scores, OOV term dropped") {
    import spark.implicits._
    val docs = Seq((1L, "x x y"), (2L, "y z"), (3L, "z z"))
      .toDF("doc_id", "text")
    // collection: 7 tokens, cf(x)=2; query = (x, oovterm): the OOV
    // term is dropped, doc scores = ln((tf_x + μ·2/7)/(dl + μ))
    val mu = 10.0
    val got = graft.ml.TextIndex.queryLikelihood(docs, "doc_id",
      "text", Seq("x", "oovterm"), mu = mu, topK = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val p = 2.0 / 7
    assert(math.abs(got(1L) - math.log((2 + mu * p) / (3 + mu))) < 1e-12)
    // docs 2, 3 contain no query term → not candidates
    assert(got.keySet === Set(1L))
    // two-term query: candidates = any hit; absent terms add their
    // smoothing mass
    val got2 = graft.ml.TextIndex.queryLikelihood(docs, "doc_id",
      "text", Seq("x", "z"), mu = mu, topK = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pz = 3.0 / 7
    assert(math.abs(got2(3L) - (math.log((0 + mu * p) / (2 + mu)) +
      math.log((2 + mu * pz) / (2 + mu)))) < 1e-12)
    assert(got2.keySet === Set(1L, 2L, 3L))
  }

  test("mmrSelect: diversifies where pure relevance picks the near-dup") {
    import spark.implicits._
    // candidates for one query: a = exact hit, b = near-dup of a,
    // c = orthogonal-ish but relevant
    val cand = Seq(
      (7L, 1L, 1.0, Array(1f, 0f)),
      (7L, 2L, 0.999, Array(0.999f, 0.045f)), // sim(b,a) ≈ 0.99898
      (7L, 3L, 0.9, Array(0.7f, 0.7f)))       // sim(c,a) ≈ 0.70711
      .toDF("query", "id", "rel", "vec")
    val divers = graft.ml.Similarity.mmrSelect(cand, "query", "id",
      "rel", "vec", k = 2, lambda = 0.5)
      .orderBy("rank").collect().map(_.getLong(2)).toList
    assert(divers === List(1L, 3L)) // near-dup b displaced by c
    val greedy = graft.ml.Similarity.mmrSelect(cand, "query", "id",
      "rel", "vec", k = 2, lambda = 1.0)
      .orderBy("rank").collect().map(_.getLong(2)).toList
    assert(greedy === List(1L, 2L)) // λ=1 degenerates to plain top-k
    // first pick's mmr = λ·rel
    val first = graft.ml.Similarity.mmrSelect(cand, "query", "id",
      "rel", "vec", k = 1, lambda = 0.5).collect().head
    assert(first.getDouble(4) === 0.5)
  }

  test("scd2: runs collapse (null-safe), versions and half-open intervals") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("a"), 10L), (2L, Some("a"), 20L), (3L, Some("b"), 30L),
      (4L, None, 40L), (5L, None, 50L), (6L, Some("a"), 60L))
      .toDF("obs", "value", "sec").withColumn("key", lit("u1"))
    val got = graft.events.Events.scd2(df, "key", "value", "sec", "obs")
      .orderBy("version").collect()
      .map(r => (Option(r.getString(1)), r.getInt(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
    assert(got.toList === List(
      (Some("a"), 1, 10L, Some(30L)),   // the re-observation at 20
      (Some("b"), 2, 30L, Some(40L)),   //   does not open a version
      (None, 3, 40L, Some(60L)),        // a NULL run is one run
      (Some("a"), 4, 60L, None)))       // current version is open
  }

  test("scd2Lookup: as-of resolution, pre-history and unknown keys keep NULLs") {
    import spark.implicits._
    val obsDf = Seq(("u1", "a", 10L, 1L), ("u1", "b", 30L, 2L))
      .toDF("key", "value", "sec", "obs")
    val dim = graft.events.Events.scd2(obsDf, "key", "value", "sec",
      "obs")
    val facts = Seq(("f1", "u1", 25L), ("f2", "u1", 30L),
      ("f3", "u1", 5L), ("f4", "u9", 25L))
      .toDF("fact_id", "key", "sec")
    val got = graft.events.Events.scd2Lookup(facts, dim, "key", "sec")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(3)) None else Some(r.getString(3)))).toMap
    assert(got("f1") === Some("a"))  // 25 ∈ [10, 30)
    assert(got("f2") === Some("b"))  // boundary lands in the NEW version
    assert(got("f3") === None)       // before version 1 — kept, not dropped
    assert(got("f4") === None)       // unknown key — kept
  }

  test("positionBias: rank-1-normalized CTR curve") {
    import spark.implicits._
    val logs = (Seq.fill(2)((1L, true)) ++ Seq.fill(2)((1L, false)) ++
      Seq.fill(1)((2L, true)) ++ Seq.fill(3)((2L, false)))
      .toDF("rank", "clicked")
    val got = graft.ml.Eval.positionBias(logs, "rank", "clicked")
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(got(1L) === 1.0 && got(2L) === 0.5)
  }

  test("ipsValue: propensity-weighted counterfactual credit") {
    import spark.implicits._
    val logs = Seq(
      (1L, 10L, 1L, true),   // θ=1, new rank 1 → credit 1
      (1L, 11L, 2L, true),   // θ=0.5, new rank 2 → credit 2
      (1L, 12L, 2L, true),   // new rank 99 → no credit
      (1L, 13L, 1L, false))  // not clicked
      .toDF("query", "doc", "rank", "clicked")
    val prop = Seq((1L, 1.0), (2L, 0.5)).toDF("rank", "propensity")
    val newRanks = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 99L))
      .toDF("query", "doc", "new_rank")
    val got = graft.ml.Eval.ipsValue(logs, newRanks, prop, k = 10)
      .collect().head
    assert(got.getLong(0) === 3L)                       // clicks
    assert(math.abs(got.getDouble(1) - 3.0 / 3) < 1e-12) // (1+2+0)/3
    assert(got.getLong(2) === 2L)                       // matched
  }

  test("teamDraftInterleave: deterministic draft, dedup skip, both teams serve") {
    import spark.implicits._
    val a = Seq((0L, 10L, 1L), (0L, 11L, 2L), (0L, 12L, 3L))
      .toDF("query", "doc", "rank")
    val b = Seq((0L, 10L, 1L), (0L, 13L, 2L), (0L, 14L, 3L))
      .toDF("query", "doc", "rank")
    val rows = graft.ml.Eval.teamDraftInterleave(a, b, "query", "doc",
      "rank", depth = 5).orderBy("pos").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    // all five distinct docs served exactly once, both teams present
    assert(rows.map(_._2).toSet === Set(10L, 11L, 12L, 13L, 14L))
    assert(rows.map(_._2).distinct.length === 5)
    assert(rows.map(_._3).toSet === Set("A", "B"))
    // whoever lost the coin for doc 10 drafts its own next-best, so
    // position 2's doc is a rank-2 item, never the shared rank-1
    assert(Set(11L, 13L).contains(rows(1)._2))
    // deterministic: a second run replays identically
    val again = graft.ml.Eval.teamDraftInterleave(a, b, "query", "doc",
      "rank", depth = 5).orderBy("pos").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.toSeq === again.toSeq)
  }

  test("interleaveWinner: click credit and the tie case") {
    import spark.implicits._
    val served = Seq((0L, 1L, 10L, "A"), (0L, 2L, 11L, "B"),
      (0L, 3L, 12L, "A"))
      .toDF("query", "pos", "doc", "team")
    val clicks = Seq((0L, 10L), (0L, 12L)).toDF("query", "doc")
    val got = graft.ml.Eval.interleaveWinner(served, clicks)
      .collect().head
    assert(got.getLong(1) === 2L && got.getLong(2) === 0L)
    assert(got.getString(3) === "A")
    val tie = graft.ml.Eval.interleaveWinner(served,
      Seq((0L, 10L), (0L, 11L)).toDF("query", "doc")).collect().head
    assert(tie.getString(3) === "tie")
  }

  test("itemCosineNeighbors: hand cosines, symmetric emit, top-k cut") {
    import spark.implicits._
    val rows = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "c")).toDF("basket", "item")
    val got = graft.ml.Associations.itemCosineNeighbors(rows, "basket",
      "item", topK = 5, minSupport = 1L)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3))
      .toMap
    assert(math.abs(got(("a", "b")) - 2.0 / math.sqrt(6)) < 1e-12)
    assert(got(("a", "b")) === got(("b", "a"))) // symmetric
    assert(math.abs(got(("a", "c")) - 1.0 / math.sqrt(3)) < 1e-12)
    // topK = 1 keeps only the best neighbor per item
    val top1 = graft.ml.Associations.itemCosineNeighbors(rows,
      "basket", "item", topK = 1, minSupport = 1L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(top1("a") === "b")
  }

  test("hubness: mean k-occurrence is exactly k, planted hub skews positive") {
    import spark.implicits._
    // h sits between all three axes: everyone's 1-NN
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f)),
      (2L, Array(0f, 0f, 1f)), (3L, Array(1f, 1f, 1f)))
      .toDF("id", "vec")
    val got = graft.ml.Similarity.hubness(vecs, k = 1).collect().head
    assert(got.getLong(1) === 4L)
    assert(got.getDouble(2) === 1.0) // Σ N_k = n·k identically
    assert(got.getDouble(3) === 3.0) // the planted hub's N_1
    // N_1 = (1,0,0,3): skew = 1.5/1.5^1.5 = 0.8165
    assert(math.abs(got.getDouble(4) - 1.5 / math.pow(1.5, 1.5)) < 1e-9)
  }

  test("mmdRbf: zero on identical samples, hand value on separated ones") {
    import spark.implicits._
    val x = Seq(Tuple1(Array(0f, 0f))).toDF("v")
    val y = Seq(Tuple1(Array(3f, 0f))).toDF("v")
    val sep = graft.ml.Similarity.mmdRbf(x, y, "v", sigma = 2.0)
      .collect().head
    // kxx = kyy = 1, kxy = exp(−9/8)
    assert(math.abs(sep.getDouble(5) -
      (2.0 - 2 * math.exp(-9.0 / 8))) < 1e-12)
    val same = graft.ml.Similarity.mmdRbf(x, x, "v", sigma = 2.0)
      .collect().head
    assert(same.getDouble(5) === 0.0)
  }

  test("fairnessReport: hand rates and gaps, degenerate groups excluded from gaps") {
    import spark.implicits._
    val df = Seq(
      // group g1: 2 pos (1 caught), 2 neg (1 false-pos)
      ("g1", true, true), ("g1", true, false),
      ("g1", false, true), ("g1", false, false),
      // group g2: all negative, predictor always fires
      ("g2", false, true), ("g2", false, true))
      .toDF("grp", "label", "pred")
    val got = graft.ml.Eval.fairnessReport(df, "grp", "label", "pred")
      .collect().map(r => r.getString(0) -> r).toMap
    val g1 = got("g1")
    assert(g1.getDouble(3) === 0.5)          // ppr
    assert(g1.getDouble(4) === 0.5)          // tpr
    assert(g1.getDouble(5) === 0.5)          // fpr
    val g2 = got("g2")
    assert(g2.isNullAt(4))                   // no positives → TPR null
    assert(g2.getDouble(5) === 1.0)          // fpr
    assert(g1.getDouble(7) === 0.5)          // dp gap: 1.0 − 0.5
    // eo gap = max(tpr gap over non-null = 0, fpr gap = 0.5)
    assert(g1.getDouble(8) === 0.5)
  }

  test("lshPlan: exact-divisor argmin and the S-curve endpoints") {
    val got = graft.ml.Dedup.lshPlan(spark, threshold = 0.8,
      nHashes = 128).collect()
    assert(got.length === 19)
    val bands = got.head.getInt(0)
    val rows = got.head.getInt(1)
    assert(bands * rows === 128)
    // the chosen inflection sits near the target
    val tStar = got.head.getDouble(2)
    assert(math.abs(math.log(tStar) - math.log(0.8)) < 0.35)
    val byS = got.map(r => math.round(r.getDouble(3) * 100).toInt ->
      r.getDouble(4)).toMap
    assert(byS(5) < 0.01)   // s = 0.05: nearly never a candidate
    assert(byS(95) > 0.98)  // s = 0.95: nearly always (b=8, r=16)
    // monotone curve
    val ps = got.sortBy(_.getDouble(3)).map(_.getDouble(4))
    assert(ps.zip(ps.tail).forall { case (a, b) => b >= a })
  }

  test("forecastAccuracy: hand metrics incl. the seasonal-naive scaling") {
    import spark.implicits._
    // actual 2,4,2,4; predicted 2,4,4,4; season 2 → naive errors at
    // t3, t4 = |2−2|, |4−4| = 0... use a drifting series instead:
    // actual 1,2,3,4 pred 1,2,2,4, season 2 → naive |3−1|,|4−2| = 2,2
    val df = Seq(("k", 1L, 1.0, 1.0), ("k", 2L, 2.0, 2.0),
      ("k", 3L, 3.0, 2.0), ("k", 4L, 4.0, 4.0))
      .toDF("key", "bucket", "y", "f")
    val got = graft.events.Events.forecastAccuracy(df, "key", "bucket",
      "y", "f", seasonLen = 2).collect().head
    assert(got.getLong(1) === 4L)
    assert(got.getDouble(2) === 0.25)                // MAE
    assert(math.abs(got.getDouble(3) - 0.5) < 1e-12) // RMSE
    // sMAPE: only t3 errs: 2·1/(3+2)/4 = 0.1
    assert(math.abs(got.getDouble(4) - 0.1) < 1e-12)
    assert(got.getDouble(5) === 2.0)                 // naive MAE
    assert(got.getDouble(6) === 0.125)               // MASE
    // all-zero actuals: sMAPE's 0/0 convention contributes 0
    val z = Seq(("z", 1L, 0.0, 0.0), ("z", 2L, 0.0, 0.0))
      .toDF("key", "bucket", "y", "f")
    val gz = graft.events.Events.forecastAccuracy(z, "key", "bucket",
      "y", "f", seasonLen = 1).collect().head
    assert(gz.getDouble(4) === 0.0)
    assert(gz.isNullAt(6)) // naive MAE 0 → MASE undefined
  }

  test("fertilityReport: hand chunk counts per stratum") {
    import spark.implicits._
    // "abcdef gh" under any tokenizer producing the given pieces
    val df = Seq(("s1", "abcdef gh", Seq("abc", "def", "gh")),
      ("s2", "xy", Seq("xy")))
      .toDF("source", "text", "pieces")
    val got = graft.ml.TextAnalysis.fertilityReport(df, "source",
      "text", "pieces").collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3),
        r.getDouble(5), r.getDouble(6))).toMap
    // s1: 3 pieces / 2 words = 1.5; 9 bytes / 3 pieces = 3
    assert(got("s1") === ((3L, 2L, 1.5, 3.0)))
    assert(got("s2") === ((1L, 1L, 1.0, 2.0)))
  }

  test("ridgeFit: exact OLS, collinearity throw, ridge shrinkage, r2") {
    import spark.implicits._
    val pts = Seq((0.0, 1.0), (1.0, 3.0)).toDF("x", "y")
    val m = graft.ml.Regression.ridgeFit(pts, Seq("x"), "y")
    assert(math.abs(m.intercept - 1.0) < 1e-12)
    assert(math.abs(m.weights(0) - 2.0) < 1e-12)
    // perfect fit → r2 = 1 (needs >1 distinct y for ss_tot > 0)
    val r2 = graft.ml.Regression.r2Report(pts, Seq("x"), "y", m)
      .collect().head.getDouble(3)
    assert(math.abs(r2 - 1.0) < 1e-12)
    // duplicated feature is singular at λ = 0 — documented throw
    val dup = Seq((1.0, 1.0, 1.0), (2.0, 2.0, 2.0), (3.0, 3.0, 4.0))
      .toDF("a", "b", "y")
    intercept[IllegalStateException] {
      graft.ml.Regression.ridgeFit(dup, Seq("a", "b"), "y")
    }
    // ...and solvable with ridge, weights split evenly by symmetry
    val mr = graft.ml.Regression.ridgeFit(dup, Seq("a", "b"), "y",
      lambda = 0.1)
    assert(math.abs(mr.weights(0) - mr.weights(1)) < 1e-9)
    // heavy ridge shrinks slopes toward zero
    val heavy = graft.ml.Regression.ridgeFit(pts, Seq("x"), "y",
      lambda = 1e9)
    assert(math.abs(heavy.weights(0)) < 1e-6)
    // the d <= 1000 driver-solve contract throws before any work
    val e = intercept[IllegalArgumentException] {
      graft.ml.Regression.ridgeFit(pts,
        (1 to 1001).map(i => s"f$i"), "y")
    }
    assert(e.getMessage.contains("d <= 1000"))
  }

  test("skipGramPairs: symmetric window pairs, deterministic subsampling") {
    import spark.implicits._
    val df = Seq((1L, "aa bb cc")).toDF("doc_id", "text")
    // t large → keepP = 1 everywhere: pure window semantics
    val got = graft.ml.Features.skipGramPairs(df, "doc_id", "text",
      window = 1, subsampleT = 10.0)
      .collect().map(r => (r.getString(2), r.getString(3))).toSet
    assert(got === Set(("aa", "bb"), ("bb", "aa"), ("bb", "cc"),
      ("cc", "bb")))
    val w2 = graft.ml.Features.skipGramPairs(df, "doc_id", "text",
      window = 2, subsampleT = 10.0).count()
    assert(w2 === 6L) // + (aa,cc), (cc,aa)
    // a frequency-1.0 word under tiny t is mostly subsampled away
    val rep = Seq((1L, Seq.fill(50)("xx").mkString(" ")))
      .toDF("doc_id", "text")
    val kept = graft.ml.Features.skipGramPairs(rep, "doc_id", "text",
      window = 1, subsampleT = 1e-4)
    assert(kept.count() < 98L) // full series would emit 98 pairs
    // deterministic: identical on a second run
    assert(kept.collect().toSet === graft.ml.Features.skipGramPairs(
      rep, "doc_id", "text", window = 1, subsampleT = 1e-4)
      .collect().toSet)
  }

  test("negativeSamplingTable: unigram^0.75 normalization") {
    import spark.implicits._
    val df = Seq((1L, "aa aa aa aa bb")).toDF("doc_id", "text")
    val got = graft.ml.Features.negativeSamplingTable(df, "text")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val z = math.pow(4, 0.75) + 1.0
    assert(math.abs(got("aa") - math.pow(4, 0.75) / z) < 1e-12)
    assert(math.abs(got("bb") - 1.0 / z) < 1e-12)
    assert(math.abs(got.values.sum - 1.0) < 1e-12)
  }

  test("srmCheck: hand chi-square, absent and undesigned arms surface") {
    import spark.implicits._
    // 60 / 40 observed against a 50/50 design: χ² = 2·(10²/50) = 4
    val df = (Seq.fill(60)("a") ++ Seq.fill(40)("b")).toDF("arm")
    val got = graft.events.Events.srmCheck(df, "arm",
      Map("a" -> 1.0, "b" -> 1.0)).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(math.abs(got("a").getDouble(5) - 4.0) < 1e-12)
    assert(got("a").getLong(6) === 1L)
    assert(got("a").getBoolean(7) === false)
    // a designed arm with ZERO observations contributes its full
    // expected count; an observed UNDESIGNED arm raises the flag
    val weird = (Seq.fill(10)("a") ++ Seq.fill(5)("ghost")).toDF("arm")
    val g2 = graft.events.Events.srmCheck(weird, "arm",
      Map("a" -> 0.5, "b" -> 0.5)).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(g2("b").getLong(1) === 0L)
    assert(g2("b").getDouble(2) === 7.5)   // expected, observed 0
    assert(g2("b").getDouble(3) === 7.5)   // (0−7.5)²/7.5
    assert(g2("ghost").getBoolean(7) === true)
    assert(g2("ghost").isNullAt(3))
  }

  test("binaryTopK: packing, hamming, and exact-rerank ordering") {
    import graft.ml.Similarity.BinUtil
    // 33 dims exercises the word boundary: dim 32 lands in word 1
    val v = Array.fill(33)(-1.0f); v(0) = 1f; v(32) = 1f
    val w = BinUtil.pack(v)
    assert(w.length === 2 && w(0) === 1L && w(1) === 1L)
    assert(BinUtil.hamming(w, Array(0L, 0L)) === 2)
    assert(BinUtil.hamming(w, w) === 0)

    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1f, 1f, -1f, -1f)),   // sign-identical to the probe
      (2L, Array(1f, -1f, -1f, -1f)),  // hamming 1
      (3L, Array(-1f, -1f, 1f, 1f)))   // hamming 4
      .toDF("id", "vec")
    val probe = Seq((0L, Array(2f, 1f, -1f, -2f))).toDF("id", "vec")
    val got = graft.ml.Similarity.binaryTopK(probe, corpus, k = 2,
      rerankMult = 1).collect()
      .map(r => (r.getLong(1), r.getInt(2))).toList
    // candidates = hamming top-2 = ids 1,2; rerank by true cosine
    // keeps that order (id 1 is the aligned vector)
    assert(got === List((1L, 0), (2L, 1)))
  }
}
