package graft.queries

import org.apache.spark.sql.functions._
import graft.matrix.{Matrix => M}

/** Matrix-library coverage (mathematics/Matrix.scala rebuild): the
  * supplier×part quantity matrix from lineitem drives products,
  * normalization, top-k and propagation — each with a relational
  * oracle, since COO linear algebra *is* join+group SQL.
  */
object MatrixQueries extends QueryGroup {

  // A[s, p] = total quantity of part p shipped by supplier s.
  private val baseSql =
    """WITH A AS (
      |  SELECT l_suppkey AS row, l_partkey AS col, sum(l_quantity) AS val
      |  FROM lineitem GROUP BY 1, 2
      |)""".stripMargin

  private def baseMatrix(s: org.apache.spark.sql.SparkSession, dir: String): M = {
    val coo = t(s, dir, "lineitem")
      .groupBy(col("l_suppkey").as("row"), col("l_partkey").as("col"))
      .agg(sum("l_quantity").as("val"))
    M.fromCoo(coo, "row", "col", "val")
  }

  val all: Seq[QueryDef] = Seq(

    // weighted PageRank on the Matrix API, two iterations
    // (WeightedPageRankFromMatrix: R(t+1) = d·(A.rowL1Norm)ᵀ·R(t) +
    // ((1−d)/n)·1⃗) over the bipartite supplier→part quantity graph
    // (part ids offset so the node spaces don't collide). The oracle
    // replays the identical double arithmetic relationally; round(6)
    // absorbs summation-order ulps.
    q("q_matrix_weighted_pagerank",
      """WITH A AS (
        |  SELECT l_suppkey AS row, l_partkey + 100000 AS col,
        |    CAST(sum(l_quantity) AS DOUBLE) AS val
        |  FROM lineitem GROUP BY 1, 2
        |), rs AS (
        |  SELECT row, sum(abs(val)) AS s FROM A GROUP BY row
        |), mhat AS (
        |  SELECT A.col AS row, A.row AS col, (A.val / rs.s) * 0.85::DOUBLE AS val
        |  FROM A JOIN rs ON A.row = rs.row
        |), nodes AS (
        |  SELECT DISTINCT idx FROM
        |    (SELECT row AS idx FROM A UNION ALL SELECT col FROM A)
        |), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |r0 AS (SELECT idx, 1.0::DOUBLE / nn.n AS val FROM nodes, nn),
        |mv1 AS (
        |  SELECT m.row AS idx, sum(m.val * r0.val) AS val
        |  FROM mhat m JOIN r0 ON m.col = r0.idx GROUP BY 1
        |), r1 AS (
        |  SELECT nodes.idx,
        |    coalesce(mv1.val, 0) + (1 - 0.85::DOUBLE) / nn.n AS val
        |  FROM nodes CROSS JOIN nn LEFT JOIN mv1 ON nodes.idx = mv1.idx
        |), mv2 AS (
        |  SELECT m.row AS idx, sum(m.val * r1.val) AS val
        |  FROM mhat m JOIN r1 ON m.col = r1.idx GROUP BY 1
        |), r2 AS (
        |  SELECT nodes.idx,
        |    coalesce(mv2.val, 0) + (1 - 0.85::DOUBLE) / nn.n AS val
        |  FROM nodes CROSS JOIN nn LEFT JOIN mv2 ON nodes.idx = mv2.idx
        |)
        |SELECT idx, round(val, 6) AS mass FROM r2
        |ORDER BY idx""".stripMargin) { (s, dir) =>
      import graft.examples.WeightedPageRankFromMatrix
      val d = 0.85
      val e = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("row"),
          (col("l_partkey") + 100000L).as("col"))
        .agg(sum("l_quantity").as("val"))
      val a = M.fromCoo(e, "row", "col", "val")
      val mHat = WeightedPageRankFromMatrix.mHat(a, d)
      val nodes = a.df.select(col("row").as("idx"))
        .unionByName(a.df.select(col("col").as("idx"))).distinct()
      val n = nodes.count()
      val prior = WeightedPageRankFromMatrix.priorVector(nodes, d, n)
      val r0 = graft.matrix.ColVector(
        nodes.select(col("idx"), lit(1.0 / n).as("val")))
      val r1 = WeightedPageRankFromMatrix.iterate(mHat, r0, prior)
      val r2 = WeightedPageRankFromMatrix.iterate(mHat, r1, prior)
      r2.df.select(col("idx"), round(col("val"), 6).as("mass"))
        .orderBy("idx")
    },

    // A * Aᵀ — supplier-supplier co-shipment similarity (matrix
    // product, MatrixProduct.scala): join on the shared part
    // dimension, sum of products.
    q("q_matrix_product",
      s"""$baseSql
         |SELECT a.row AS row, b.row AS col,
         |  round(sum(a.val * b.val), 2) AS val
         |FROM A a JOIN A b ON a.col = b.col
         |GROUP BY 1, 2 ORDER BY row, col""".stripMargin) { (s, dir) =>
      baseMatrix(s, dir).grammian.df
        .select(col("row"), col("col"), round(col("val"), 2).as("val"))
        .orderBy("row", "col")
    },

    // jaccard similarity of supplier part-sets on the zip API
    // (MatrixTutorial5's pipeline with both set sizes taken from row
    // degrees, so the result is finite on this directed bipartite
    // graph): binarize, intersections via the grammian, degrees
    // painted across the intersection support by zipMapCol/zipMapRow,
    // |i∪j| = |i|+|j|−|i∩j| by sparse add/subtract.
    q("q_matrix_jaccard",
      s"""$baseSql, B AS (
         |  SELECT row, col, 1.0::DOUBLE AS val FROM A
         |), I AS (
         |  SELECT a.row AS row, b.row AS col, CAST(count(*) AS DOUBLE) AS v
         |  FROM B a JOIN B b ON a.col = b.col GROUP BY 1, 2
         |), D AS (
         |  SELECT row, CAST(count(*) AS DOUBLE) AS d FROM B GROUP BY row
         |)
         |SELECT I.row AS row, I.col AS col,
         |  round(I.v / (di.d + dj.d - I.v), 6) AS val
         |FROM I JOIN D di ON I.row = di.row JOIN D dj ON I.col = dj.row
         |ORDER BY row, col""".stripMargin) { (s, dir) =>
      val b = baseMatrix(s, dir).binarizeAs()
      val inter = b.grammian
      val deg = b.sumColVector
      val x = inter.zipMapCol(deg)((_, u) => u)
      val y = inter.zipMapRow(graft.matrix.RowVector(deg.df))((_, u) => u)
      val union = x + y - inter
      inter.zipMap(union)((a, u) => a / u).df
        .select(col("row"), col("col"), round(col("val"), 6).as("val"))
        .orderBy("row", "col")
    },

    // row L1 normalization (Matrix.rowL1Normalize:725): each
    // supplier's quantity distribution over parts.
    q("q_matrix_rownorm",
      s"""$baseSql
         |SELECT row, col,
         |  round(val / sum(abs(val)) OVER (PARTITION BY row), 6) AS val
         |FROM A ORDER BY row, col""".stripMargin) { (s, dir) =>
      baseMatrix(s, dir).rowL1Normalize.df
        .select(col("row"), col("col"), round(col("val"), 6).as("val"))
        .orderBy("row", "col")
    },

    // per-row top-k (topRowElems, Matrix.scala:296-322): top-5 parts
    // per supplier by quantity.
    q("q_matrix_topk",
      s"""$baseSql
         |SELECT row, col, round(val, 2) AS val FROM (
         |  SELECT row, col, val, row_number() OVER (
         |    PARTITION BY row ORDER BY val DESC, col) AS rn FROM A
         |) WHERE rn <= 5 ORDER BY row, col""".stripMargin) { (s, dir) =>
      baseMatrix(s, dir).topRowElems(5).df
        .select(col("row"), col("col"), round(col("val"), 2).as("val"))
        .orderBy("row", "col")
    },

    // graph propagation (Matrix.propagate): push supplier account
    // balances along the supplier→part edges, sum per part.
    q("q_matrix_propagate",
      s"""$baseSql
         |SELECT a.col AS row, round(sum(a.val * s.s_acctbal), 2) AS val
         |FROM A a JOIN supplier s ON a.row = s.s_suppkey
         |GROUP BY 1 ORDER BY row""".stripMargin) { (s, dir) =>
      val labels = t(s, dir, "supplier")
        .select(col("s_suppkey").as("row"), col("s_acctbal").as("val"))
      baseMatrix(s, dir).propagate(labels)
        .select(col("row"), round(col("val"), 2).as("val"))
        .orderBy("row")
    },

    // DIMSUM approximate all-pairs cosine (Zadeh & Carlsson; MLlib
    // columnSimilarities): the 100 TB path for the gram — entries of
    // heavy rows survive with p = min(1, t/||r||) under a
    // deterministic hash coin, so the contraction shuffle stops
    // growing with the data. Contract: every supplier pair with exact
    // cosine >= 0.15 is estimated within ±0.08, and sampling really
    // dropped entries. n_pairs (the exact high-similarity pair count)
    // is recomputed independently by the oracle.
    q("q_matrix_gram_dimsum",
      s"""$baseSql, N AS (
         |  SELECT row, sqrt(sum(val * val)) AS nrm FROM A GROUP BY 1
         |), C AS (
         |  SELECT a.row AS r1, b.row AS r2, sum(a.val * b.val) AS dot
         |  FROM A a JOIN A b ON a.col = b.col AND a.row < b.row
         |  GROUP BY 1, 2
         |)
         |SELECT count(*) AS n_pairs, true AS dimsum_ok,
         |  true AS downsampled
         |FROM C JOIN N n1 ON C.r1 = n1.row JOIN N n2 ON C.r2 = n2.row
         |WHERE round(dot / (n1.nrm * n2.nrm), 6) >= 0.15""".stripMargin) { (s, dir) =>
      val base = baseMatrix(s, dir)
      // t from a sweep against the exact gram: max |est-exact| over the 4811
      // sf0.01 contract pairs is 0.059 at t=650 (0.10 at t=500), with
      // 18% of entries sampled away. coalesce: vacuously true at SFs
      // where no pair clears the similarity threshold.
      val t = 650.0
      val exact = base.rowCosineSimilarity.df
        .filter(col("row") < col("col"))
        .filter(round(col("val"), 6) >= 0.15)
        .select(col("row"), col("col"), col("val").as("cos"))
      val est = base.rowCosineDimsum(t).df
        .filter(col("row") < col("col"))
        .select(col("row"), col("col"), col("val").as("est"))
      val contract = exact.join(est, Seq("row", "col"), "left")
        .select(abs(coalesce(col("est"), lit(0.0)) - col("cos")).as("err"))
        .agg(count(lit(1)).as("n_pairs"),
          coalesce(max(col("err")) <= 0.08, lit(true)).as("dimsum_ok"))
      contract
        .crossJoin(base.dimsumSample(t).df.agg(count(lit(1)).as("__ns")))
        .crossJoin(base.df.agg(count(lit(1)).as("__nb")))
        .select(col("n_pairs"), col("dimsum_ok"),
          (col("__ns") < col("__nb")).as("downsampled"))
    },

    // element filters as set ops (keepElementsBy / removeElementsBy,
    // Matrix.scala:632-654): entries for high-value parts only
    // (semi), then entries excluding one supplier's (anti).
    q("q_matrix_keep_remove",
      s"""$baseSql, keepers AS (
         |  SELECT l_suppkey AS row, l_partkey AS col FROM lineitem
         |  WHERE l_extendedprice > 2000 GROUP BY 1, 2
         |)
         |SELECT a.row, a.col, round(a.val, 2) AS val
         |FROM A a JOIN keepers k ON a.row = k.row AND a.col = k.col
         |WHERE a.row != 1
         |ORDER BY a.row, a.col""".stripMargin) { (s, dir) =>
      val keepers = t(s, dir, "lineitem")
        .filter(col("l_extendedprice") > 2000)
        .select(col("l_suppkey").as("row"), col("l_partkey").as("col"))
        .distinct()
        .withColumn("val", lit(1.0))
      val banned = IndexedSeq(1L)
      val a = baseMatrix(s, dir)
      a.keepElementsBy(M(keepers))
        .removeRowsBy(t(s, dir, "supplier")
          .filter(col("s_suppkey").isin(banned: _*))
          .select(col("s_suppkey")))
        .df
        .select(col("row"), col("col"), round(col("val"), 2).as("val"))
        .orderBy("row", "col")
    },

    // sparse mean-centering + one-pass row moments
    // (rowMeanCentering:361-364, rowSizeAveStdev:370-382): cols 1/2/3
    // = nonzero count, mean (≈0 after centering — the +0.0 folds any
    // -0.0 from rounding residuals), population stddev. Centering
    // drops exact-zero cells (reference filterOutZeros) — safe as an
    // oracle match because `val` is an exact integer sum, so
    // cval == 0 is bit-identical across engines.
    q("q_matrix_center_moments",
      s"""$baseSql, c AS (
         |  SELECT row, col, val - avg(val) OVER (PARTITION BY row) AS cval
         |  FROM A
         |  QUALIFY cval <> 0
         |), m AS (
         |  SELECT row, CAST(count(*) AS DOUBLE) AS s, avg(cval) AS a,
         |    coalesce(stddev_pop(cval), 0.0) AS d
         |  FROM c GROUP BY row
         |)
         |SELECT row, col, round(v, 6) + 0.0 AS val FROM (
         |  SELECT row, 1 AS col, s AS v FROM m
         |  UNION ALL SELECT row, 2, a FROM m
         |  UNION ALL SELECT row, 3, d FROM m
         |) ORDER BY row, col""".stripMargin) { (s, dir) =>
      baseMatrix(s, dir).rowMeanCentering.rowSizeAveStdev.df
        .select(col("row"), col("col"),
          (round(col("val"), 6) + 0.0).as("val"))
        .orderBy("row", "col")
    },

    // column L2 normalization + per-column top-k
    // (colL2Normalize:420-422, topColElems:407-409): each part's two
    // strongest suppliers by normalized share.
    q("q_matrix_col_normalize",
      s"""$baseSql, n AS (
         |  SELECT row, col,
         |    val / sqrt(sum(val * val) OVER (PARTITION BY col)) AS nval
         |  FROM A
         |), r AS (
         |  SELECT row, col, nval,
         |    row_number() OVER (PARTITION BY col ORDER BY nval DESC, row) AS rn
         |  FROM n
         |)
         |SELECT row, col, round(nval, 6) AS val FROM r WHERE rn <= 2
         |ORDER BY col, row""".stripMargin) { (s, dir) =>
      baseMatrix(s, dir).colL2Normalize.topColElems(2).df
        .select(col("row"), col("col"), round(col("val"), 6).as("val"))
        .orderBy("col", "row")
    },

    // per-row closure (mapRows:277-291) replacing values by their
    // within-row rank (desc, col tie-break) + elemWiseOp subtracting
    // the binarized support — both sparse-semantics ops the oracle
    // restates as windows/joins.
    q("q_matrix_maprows_elemwise",
      s"""$baseSql, rk AS (
         |  SELECT row, col,
         |    CAST(row_number() OVER (PARTITION BY row ORDER BY val DESC, col)
         |      AS DOUBLE) AS val
         |  FROM A
         |)
         |SELECT row, col, val - 1.0 AS val FROM rk WHERE val != 1.0
         |ORDER BY row, col""".stripMargin) { (s, dir) =>
      val ranked = baseMatrix(s, dir).mapRows { cells =>
        cells.sortBy { case (c, v) => (-v, c) }.zipWithIndex
          .map { case ((c, _), i) => (c, (i + 1).toDouble) }
      }
      ranked.elemWiseOp(ranked.binarizeAs(1.0))((a, b) => a - b).df
        .select(col("row"), col("col"), col("val"))
        .orderBy("row", "col")
    },

    // degree-oriented triangle counting on the part co-purchase graph
    // (parts sharing an order are adjacent): per-node degree, triangle
    // participation, and local clustering coefficient. The engine's
    // wedge volume is bounded O(m^1.5) by the degree orientation; the
    // oracle enumerates each a<b<c triangle once via the canonical
    // edge 3-way join.
    q("q_graph_triangles",
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |), e AS (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        |), deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e
        |  ) GROUP BY node
        |), tri AS (
        |  SELECT ab.u AS a, ab.v AS b, bc.v AS c
        |  FROM e ab JOIN e bc ON ab.v = bc.u
        |    JOIN e ac ON ac.u = ab.u AND ac.v = bc.v
        |), pernode AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri
        |  ) GROUP BY node
        |)
        |SELECT deg.node, deg.degree,
        |  coalesce(pernode.triangles, 0) AS triangles,
        |  round(CASE WHEN deg.degree < 2 THEN 0.0
        |    ELSE coalesce(pernode.triangles, 0) * 2.0
        |      / (deg.degree * (deg.degree - 1)) END, 6) AS clustering_coeff
        |FROM deg LEFT JOIN pernode USING (node)
        |ORDER BY node""".stripMargin) { (s, dir) =>
      val edges = graft.graph.Graphs.coOccurrenceEdges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
      graft.graph.Graphs.triangleCounts(edges)
        .select(col("node"), col("degree"), col("triangles"),
          round(col("clustering_coeff"), 6).as("clustering_coeff"))
        .orderBy("node")
    },

    // dominant right singular vector by power iteration on AᵀA —
    // never materializing AᵀA, only matrix-vector propagates. The
    // oracle unrolls the same 6 iterations as CTE levels.
    q("q_matrix_power", MatrixQueries.powerOracleSql(6)) { (s, dir) =>
      val (v, sigma) = baseMatrix(s, dir).topSingularVector(iters = 6)
      v.select(col("col"), round(col("weight"), 6).as("weight"),
          round(lit(sigma), 2).as("sigma"))
        .orderBy("col")
    },

    // k-core extraction on the co-purchase graph (k = 80, which
    // peels for 5 rounds on this data): the oracle unrolls the
    // peeling as 8 CTE levels — extra levels past the fixpoint are
    // idempotent, so over-provisioning is safe.
    q("q_graph_kcore", MatrixQueries.kCoreOracleSql(k = 80, levels = 8)) {
      (s, dir) =>
      val edges = graft.graph.Graphs.coOccurrenceEdges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
      graft.graph.Graphs.kCore(edges, k = 80)
        .orderBy("node")
    },

    // multi-source BFS hop distances on the co-purchase graph,
    // sources = every node ≡ 0 (mod 211). The oracle's recursive CTE
    // uses UNION (not UNION ALL) so the walk carries ≤ maxHops
    // distinct (node, dist) rows per node instead of all paths; the
    // min collapses them to the BFS distance.
    q("q_graph_hops",
      """WITH RECURSIVE items AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |), e AS (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        |), adj AS (
        |  SELECT u, v FROM e UNION ALL SELECT v, u FROM e
        |), walk(node, dist) AS (
        |  SELECT DISTINCT u, 0 FROM adj WHERE u % 211 = 0
        |  UNION
        |  SELECT adj.v, walk.dist + 1
        |  FROM walk JOIN adj ON walk.node = adj.u
        |  WHERE walk.dist < 4
        |)
        |SELECT node, CAST(min(dist) AS BIGINT) AS dist
        |FROM walk GROUP BY node ORDER BY node""".stripMargin) { (s, dir) =>
      val edges = graft.graph.Graphs.coOccurrenceEdges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
      val srcs = edges.select(col("src").as("node"))
        .unionAll(edges.select(col("dst").as("node")))
        .filter(col("node") % 211 === 0).distinct()
      graft.graph.Graphs.shortestHops(edges, srcs, maxHops = 4)
        .orderBy("node")
    },

    // landmark-approximated harmonic centrality on the co-purchase
    // graph: k labeled BFS sweeps in one frontier loop, Ĥ(v) = Σ 1/d
    // over landmarks (nodes ≡ 0 mod 401), maxHops 3.
    q("q_graph_harmonic",
      """WITH RECURSIVE items AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |), e AS (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        |), adj AS (
        |  SELECT u, v FROM e UNION ALL SELECT v, u FROM e
        |), walk(lm, node, dist) AS (
        |  SELECT DISTINCT u, u, 0 FROM adj WHERE u % 401 = 0
        |  UNION
        |  SELECT walk.lm, adj.v, walk.dist + 1
        |  FROM walk JOIN adj ON walk.node = adj.u
        |  WHERE walk.dist < 3
        |), d AS (
        |  SELECT lm, node, min(dist) AS dist
        |  FROM walk GROUP BY 1, 2
        |)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_landmarks_reached,
        |  round(sum(1.0::DOUBLE / dist), 6) AS harmonic
        |FROM d WHERE dist > 0
        |GROUP BY 1 ORDER BY node""".stripMargin) { (s, dir) =>
      val edges = graft.graph.Graphs.coOccurrenceEdges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
      val lms = edges.select(col("src").as("node"))
        .unionAll(edges.select(col("dst").as("node")))
        .filter(col("node") % 401 === 0).distinct()
      graft.graph.Graphs.harmonicCentrality(edges, lms, maxHops = 3)
        .select(col("node"), col("n_landmarks_reached"),
          round(col("harmonic"), 6).as("harmonic"))
        .orderBy("node")
    },

    // link prediction on the co-purchase graph: common-neighbor /
    // Jaccard / Adamic-Adar scores for non-adjacent 2-hop pairs
    // (hub cap 100 on wedge centers, >= 3 shared neighbors), full
    // wedge-join replay.
    q("q_graph_linkpred",
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |), e AS (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        |), adj AS (
        |  SELECT u AS node, v AS nbr FROM e
        |  UNION ALL SELECT v, u FROM e
        |), deg AS (
        |  SELECT node, count(*)::BIGINT AS d FROM adj GROUP BY 1
        |), ctr AS (
        |  SELECT adj.nbr AS w, adj.node AS x, deg.d AS dw
        |  FROM adj JOIN deg ON deg.node = adj.nbr WHERE deg.d <= 100
        |), pr AS (
        |  SELECT l.x AS a, r.x AS b,
        |    count(*)::BIGINT AS common_neighbors,
        |    sum(1.0::DOUBLE / ln(l.dw::DOUBLE)) AS adamic_adar
        |  FROM ctr l JOIN ctr r ON l.w = r.w AND l.x < r.x
        |  GROUP BY 1, 2 HAVING count(*) >= 3
        |), nonadj AS (
        |  SELECT pr.* FROM pr ANTI JOIN e ON pr.a = e.u AND pr.b = e.v
        |)
        |SELECT n.a, n.b, n.common_neighbors,
        |  round(n.common_neighbors::DOUBLE /
        |    (da.d + db.d - n.common_neighbors), 6) AS jaccard,
        |  round(n.adamic_adar, 6) AS adamic_adar
        |FROM nonadj n
        |JOIN deg da ON da.node = n.a JOIN deg db ON db.node = n.b
        |ORDER BY a, b""".stripMargin) { (s, dir) =>
      val edges = graft.graph.Graphs.coOccurrenceEdges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
      graft.graph.Graphs.linkPrediction(edges, maxDegree = 100,
          minCommon = 3)
        .select(col("a"), col("b"), col("common_neighbors"),
          round(col("jaccard"), 6).as("jaccard"),
          round(col("adamic_adar"), 6).as("adamic_adar"))
        .orderBy("a", "b")
    },

    // degree assortativity (Newman 2002) of the co-purchase graph:
    // Pearson correlation of endpoint degrees with each undirected
    // edge contributing both orientations. Pearson r is identical
    // under sample/population scaling, so engine `corr` functions
    // agree exactly.
    q("q_graph_assortativity",
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |), e AS (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        |), deg AS (
        |  SELECT node, count(*)::BIGINT AS d FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e
        |  ) GROUP BY node
        |), pairs AS (
        |  SELECT du.d AS da, dv.d AS db
        |  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
        |  UNION ALL
        |  SELECT dv.d, du.d
        |  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
        |)
        |SELECT CAST(count(*) / 2 AS BIGINT) AS n_edges,
        |  round(corr(da::DOUBLE, db::DOUBLE), 6) AS assortativity
        |FROM pairs""".stripMargin) { (s, dir) =>
      val edges = graft.graph.Graphs.coOccurrenceEdges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
      graft.graph.Graphs.degreeAssortativity(edges)
        .select(col("n_edges"),
          round(col("assortativity"), 6).as("assortativity"))
    },

    // Newman-Girvan modularity of a deterministic 7-way partition of
    // the co-purchase graph (community = part % 7): the evaluation
    // half of community detection, scored without any iterative
    // assignment so the oracle replays it exactly.
    q("q_graph_modularity",
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |), e AS (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        |), tagged AS (
        |  SELECT u % 7 AS cu, v % 7 AS cv FROM e
        |), x AS (
        |  SELECT cu AS c, (CASE WHEN cu = cv THEN 1 ELSE 0 END) AS intra
        |  FROM tagged
        |  UNION ALL
        |  SELECT cv, (CASE WHEN cu = cv THEN 1 ELSE 0 END) FROM tagged
        |), perc AS (
        |  SELECT c, count(*)::BIGINT AS dc, sum(intra) / 2 AS ec
        |  FROM x GROUP BY c
        |), agg AS (
        |  SELECT CAST(sum(dc) / 2 AS BIGINT) AS n_edges,
        |    count(*)::BIGINT AS n_communities,
        |    sum(dc)::BIGINT AS two_m, sum(ec) AS ec_tot,
        |    sum(dc::DOUBLE * dc) AS dc_sq
        |  FROM perc
        |)
        |SELECT n_edges, n_communities,
        |  round(ec_tot::DOUBLE / n_edges
        |    - dc_sq / (two_m::DOUBLE * two_m), 6) AS modularity
        |FROM agg""".stripMargin) { (s, dir) =>
      val edges = graft.graph.Graphs.coOccurrenceEdges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
      val nodes = t(s, dir, "lineitem")
        .select(col("l_partkey").as("node")).distinct()
        .withColumn("community", col("node") % 7)
      graft.graph.Graphs.modularity(edges, nodes)
        .select(col("n_edges"), col("n_communities"),
          round(col("modularity"), 6).as("modularity"))
    }
  )

  /** DuckDB SQL replaying [[graft.matrix.Matrix.topSingularVector]]:
    * `iters` unrolled power-iteration levels, each two propagate
    * joins (w = A v, u = Aᵀ w) + a norm CTE, starting from the
    * all-ones column vector, same normalization each step.
    */
  /** Every CTE `AS MATERIALIZED`: the w/u/v chain references each
    * predecessor 2-3×, and DuckDB's default CTE inlining expands the
    * chain multiplicatively — measured 37 s inlined vs 0.12 s
    * materialized at sf0.01 (round-8, same class as the kcore fix).
    */
  def powerOracleSql(iters: Int): String = {
    val matBase = baseSql.replace("WITH A AS (", "WITH A AS MATERIALIZED (")
    val v0 =
      "v0 AS MATERIALIZED (SELECT DISTINCT col AS c, 1.0::DOUBLE AS v FROM A)"
    val steps = (1 to iters).map { i =>
      s"""w$i AS MATERIALIZED (
         |  SELECT A.row AS r, sum(A.val * p.v) AS v
         |  FROM A JOIN v${i - 1} p ON A.col = p.c GROUP BY 1
         |), u$i AS MATERIALIZED (
         |  SELECT A.col AS c, sum(A.val * w$i.v) AS v
         |  FROM A JOIN w$i ON A.row = w$i.r GROUP BY 1
         |), n$i AS MATERIALIZED (SELECT sqrt(sum(v * v)) AS nrm FROM u$i),
         |v$i AS MATERIALIZED (SELECT c, v / nrm AS v FROM u$i, n$i)"""
        .stripMargin
    }
    s"""$matBase, $v0, ${steps.mkString(", ")}
       |SELECT c AS col, round(v, 6) AS weight,
       |  round(sqrt(nrm), 2) AS sigma
       |FROM v$iters, n$iters ORDER BY col""".stripMargin
  }

  /** DuckDB SQL replaying [[graft.graph.Graphs.kCore]] by unrolling
    * the degree-peel loop `levels` deep: level i keeps the nodes
    * whose degree within level i−1 is ≥ k. Idempotent past the
    * fixpoint. Final row set = surviving nodes with their in-core
    * degree.
    *
    * Every CTE is `AS MATERIALIZED`: each a_i is referenced twice,
    * and DuckDB's default CTE INLINING makes the chain expand
    * 2^levels copies of the base scan — measured ~15 min at sf0.01
    * vs 0.5 s materialized (round-8 fix; this was why the driver's
    * whole 307-query compare stalled).
    */
  def kCoreOracleSql(k: Int, levels: Int): String = {
    val base =
      """items AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |), e AS MATERIALIZED (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        |), und AS MATERIALIZED (
        |  SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e
        |), a0 AS MATERIALIZED (
        |  SELECT DISTINCT a AS node FROM und
        |)""".stripMargin
    val steps = (1 to levels).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT und.a AS node, count(*) AS c
         |    FROM und
         |    JOIN a${i - 1} p1 ON und.a = p1.node
         |    JOIN a${i - 1} p2 ON und.b = p2.node
         |    GROUP BY 1
         |  ) WHERE c >= $k
         |)""".stripMargin
    }
    s"""WITH $base, ${steps.mkString(", ")}
       |SELECT und.a AS node, count(*) AS degree
       |FROM und
       |JOIN a$levels p1 ON und.a = p1.node
       |JOIN a$levels p2 ON und.b = p2.node
       |GROUP BY 1 ORDER BY node""".stripMargin
  }
}
