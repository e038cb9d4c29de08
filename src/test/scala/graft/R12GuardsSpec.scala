package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PairFunctions
import graft.graph.Graphs

/** Round-12 optimization guards and kernels: the loud compact-id /
  * group-size contracts (VERDICT r11 items 1-2), the size-adaptive
  * global-window gate (item 6), and the Mann-Kendall inversion-count
  * kernel (item 4). Every guard must FAIL LOUDLY on planted bad input
  * and change nothing on good input; every rewired kernel must equal
  * its pre-optimization relational form value-for-value.
  */
class R12GuardsSpec extends SparkSpec {

  test("packed_pairs: mega-group fails with a remedy, not overflow") {
    import spark.implicits._
    // 16385 items -> 134,225,920 pairs > the 2^27 cap; the guard must
    // fire BEFORE any allocation (n*(n-1)/2 in int would overflow at
    // n >= 65536 and silently corrupt below that via a huge row)
    val big = Seq(Seq.tabulate(16385)(_.toLong)).toDF("xs")
    val e = intercept[Exception] {
      big.select(PairFunctions.packed_pairs(col("xs"))).collect()
    }
    assert(e.getMessage.contains("cap group sizes"),
      s"wrong error: ${e.getMessage}")
  }

  test("coOccurrenceEdges: planted mega-group fails loudly, capped ok") {
    import spark.implicits._
    val inc = (1 to 40).map(i => (1L, i.toLong)).toDF("g", "i")
    // under the cap: normal result
    assert(Graphs.coOccurrenceEdges(inc, "g", "i").count() ==
      40L * 39 / 2)
    // over a tightened cap: raise_error with the remedy, both paths
    Seq(true, false).foreach { packed =>
      val e = intercept[Exception] {
        Graphs.coOccurrenceEdges(inc, "g", "i", packedIds = packed,
          maxGroupSize = 10).collect()
      }
      assert(e.getMessage.contains("maxGroupSize"),
        s"packed=$packed wrong error: ${e.getMessage}")
    }
  }

  test("triangleCounts: id >= 2^31 fails loudly on the compact path") {
    import spark.implicits._
    val big = 1L << 32
    val edges = Seq((1L, 2L), (2L, big), (big, 1L)).toDF("src", "dst")
    val e = intercept[Exception] {
      Graphs.triangleCounts(edges).collect()
    }
    assert(e.getMessage.contains("32-bit"),
      s"wrong error: ${e.getMessage}")
    // the long path handles the same graph: one triangle, all nodes
    val ok = Graphs.triangleCounts(edges, compactIds = false)
      .orderBy("node").collect()
    assert(ok.map(_.getLong(2)).toSeq == Seq(1L, 1L, 1L))
  }

  test("linkPrediction: edge-side packing range-checked too") {
    import spark.implicits._
    val big = 1L << 33
    // the big id's only neighbors join through the EDGE side of the
    // anti-join (its wedge side is capped away by maxDegree = 2 on
    // the hub), so only the edge-packing guard can catch it
    val edges = (Seq((big, 1L), (big, 2L), (big, 3L)) ++
      Seq((1L, 2L), (2L, 3L))).toDF("src", "dst")
    val e = intercept[Exception] {
      Graphs.linkPrediction(edges, maxDegree = 2).collect()
    }
    assert(e.getMessage.contains("2^31"),
      s"wrong error: ${e.getMessage}")
    // wide-id escape hatch works on the same input
    assert(Graphs.linkPrediction(edges, maxDegree = 2,
      packedIds = false).count() >= 0L)
    graft.core.PipelineCaches.unpersistAll()
  }

  test("frequentPairs: packedIds=false carries hash-derived long ids") {
    import spark.implicits._
    val neg = -42L // a negative id the packed path must reject
    val inc = Seq((1L, neg), (1L, 5L), (2L, neg), (2L, 5L))
      .toDF("b", "i")
    val e = intercept[Exception] {
      graft.ml.Associations.frequentPairs(inc, "b", "i").collect()
    }
    assert(e.getMessage.contains("packed_pairs"))
    graft.core.PipelineCaches.unpersistAll()
    val got = graft.ml.Associations
      .frequentPairs(inc, "b", "i", packedIds = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(got.toSeq == Seq((neg, 5L, 2L)))
    graft.core.PipelineCaches.unpersistAll()
  }

  test("Ranks.autoBig: plan-stat gate, no execution") {
    // tiny table: stays on the window path
    assert(!graft.functions.Ranks.autoBig(
      spark.range(10).toDF("id")))
    // 300M-row range: ~2.4 GB estimate > the 1 GiB budget — the gate
    // reads optimizer stats only, so this costs nothing to "run"
    assert(graft.functions.Ranks.autoBig(
      spark.range(300L * 1000 * 1000).toDF("id")))
  }

  test("rocAuc/gains/rfm: forced two-pass path equals the window path") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val scored = (1 to 500).map { i =>
      (math.floor(rnd.nextDouble() * 50) / 50.0,
        if (rnd.nextDouble() < 0.4) 1 else 0)
    }.toDF("score", "y")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(graft.ml.Eval.rocAuc(scored, "score", "y")) ==
      rows(graft.ml.Eval.rocAuc(scored, "score", "y", bigDomain = true)))
    assert(
      rows(graft.ml.Eval.gainsTable(scored, "score", "y")
        .orderBy("bucket")) ==
      rows(graft.ml.Eval.gainsTable(scored, "score", "y",
        bigDomain = true).orderBy("bucket")))
    graft.core.PipelineCaches.unpersistAll()
  }

  test("mannKendall kernel equals the relational pair replay") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    // bucketed event stream with gaps and heavy count ties
    val secs = (1 to 400).map(_ => rnd.nextInt(50) * 60L + rnd.nextInt(60))
    val df = secs.toDF("sec")
    val got = graft.events.Events.mannKendall(df, "sec", 60L).collect()(0)
    // brute force replay of the OLD pair-join definition
    val counts = secs.groupBy(_ / 60L).map { case (b, xs) => (b, xs.size) }
    val b0 = counts.keys.min
    val b1 = counts.keys.max
    val series = (b0 to b1).map(b => (b, counts.getOrElse(b, 0).toDouble))
    val pairs = for {
      i <- series.indices; j <- (i + 1) until series.size
    } yield (math.signum(series(j)._2 - series(i)._2),
      (series(j)._2 - series(i)._2) / (series(j)._1 - series(i)._1))
    val s = pairs.map(_._1).sum.toLong
    val m = pairs.size
    val slopes = pairs.map(_._2).sorted
    val sen = slopes((m + 1) / 2 - 1)
    val n = series.size.toLong
    val tieTerm = series.groupBy(_._2).values.map(_.size.toLong)
      .filter(_ > 1).map(t => t * (t - 1) * (2 * t + 5)).sum
    val varS = (n * (n - 1) * (2 * n + 5) - tieTerm).toDouble / 18.0
    assert(got.getLong(0) == n)
    assert(got.getLong(1) == s)
    assert(got.getDouble(2) == varS)
    assert(got.getDouble(3) ==
      (if (s > 0) (s - 1) / math.sqrt(varS)
       else if (s < 0) (s + 1) / math.sqrt(varS) else 0.0))
    assert(got.getDouble(4) == sen)
  }

  test("mannKendall: a flat series (slopes mostly exactly 0) stays fast") {
    import spark.implicits._
    // 700 buckets of 5 events, every 97th of 6: ~2.4e5 slopes, ~96 %
    // of them exactly 0.0. A quickselect that puts only the pivot in
    // place moves one element per pass through that run: ~2e10 steps,
    // over a minute on a 4-core host, against well under a second.
    val n = 700
    val y = (0 until n).map(b => if (b % 97 == 0) 6.0 else 5.0)
    val secs = (0 until n).flatMap(b => Seq.fill(y(b).toInt)(b * 60L + 7))
    val t0 = System.nanoTime()
    val got = graft.events.Events.mannKendall(secs.toDF("sec"), "sec", 60L)
      .collect()(0)
    val seconds = (System.nanoTime() - t0) / 1e9
    // replay of the pair definition: every slope, sorted
    val slopes = (for (i <- 0 until n; j <- (i + 1) until n)
      yield (y(j) - y(i)) / (j - i)).toArray
    java.util.Arrays.sort(slopes)
    val s = (for (i <- 0 until n; j <- (i + 1) until n)
      yield math.signum(y(j) - y(i)).toLong).sum
    assert(got.getLong(0) == n.toLong)
    assert(got.getLong(1) == s)
    assert(got.getDouble(4) == slopes((slopes.length + 1) / 2 - 1))
    assert(seconds < 20, f"flat series took $seconds%.1f s")
  }

  test("mannKendall: grid past the exact-Sen cap fails with a remedy") {
    import spark.implicits._
    // two events 30k sec apart at periodSec=1 -> 30001 buckets ->
    // ~4.5e8 pairwise slopes > the 2^27 in-kernel cap; must throw the
    // coarsen-periodSec message, never allocate the slope array
    val e = intercept[Exception] {
      graft.events.Events
        .mannKendall(Seq(0L, 30000L).toDF("sec"), "sec", 1L).collect()
    }
    assert(e.getMessage.contains("coarsen periodSec"),
      s"wrong error: ${e.getMessage}")
  }

  test("mannKendall: single-bucket series yields null z and slope") {
    import spark.implicits._
    val got = graft.events.Events
      .mannKendall(Seq(5L, 10L, 59L).toDF("sec"), "sec", 60L).collect()(0)
    assert(got.getLong(0) == 1L)
    assert(got.isNullAt(1) && got.isNullAt(3) && got.isNullAt(4))
  }

  test("textRank: shuffle-hash iterations equal the broadcast path") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark makes big data small again spark spark"),
      (2L, "big data big graphs big text"),
      (3L, "text rank walks the word graph of text"))
      .toDF("id", "text")
    def rows(bmax: Long) = graft.ml.Keywords
      .textRank(docs, "id", "text", iters = 4, broadcastMaxVocab = bmax)
      .orderBy("word").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val bcast = rows(Long.MaxValue)
    graft.core.PipelineCaches.unpersistAll()
    val shuf = rows(0L)
    graft.core.PipelineCaches.unpersistAll()
    assert(bcast.map(_._1) == shuf.map(_._1))
    bcast.zip(shuf).foreach { case ((w, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-12, s"$w: $a vs $b")
    }
  }
}
