package graft.matrix

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.Lineage

/** Sparse linear algebra over COO triples — rebuild of the reference's
  * matrix library (mathematics/Matrix.scala:33-993) on DataFrames.
  *
  * A matrix is a DataFrame with columns (row, col, val); zero = absent
  * row, exactly like the reference ("sparse by default",
  * Matrix.scala:33-50). Products are joins + group-sums; the
  * broadcast-vs-shuffle choice mirrors the reference's SizeHint cost
  * model (MatrixProduct.scala:88-108, maxTinyJoin=100000 cells) but
  * defers to Catalyst/AQE when no hint is given.
  */
final case class Matrix(df: DataFrame) {

  import Matrix._

  def rows: DataFrame = df

  /** A^T (Matrix.transpose). */
  def transpose: Matrix =
    Matrix(df.select(col(C).as(R), col(R).as(C), col(V)))

  def mapValues(f: Column => Column): Matrix =
    Matrix(df.withColumn(V, f(col(V))))

  /** Drop explicit zeros (reference keeps matrices sparse). */
  def dropZeros: Matrix = Matrix(df.filter(col(V) =!= 0.0))

  /** Element-wise filter by predicate on value. */
  def filterValues(p: Column): Matrix = Matrix(df.filter(p))

  /** A * B — join on A.col == B.row, sum products per (row, col)
    * (MatrixProduct.scala). `tinyRight` forces the reference's "tiny
    * join" replicated strategy (maxTinyJoin, MatrixProduct.scala:88).
    */
  def product(other: Matrix, tinyRight: Boolean = false): Matrix = {
    val a = df.select(col(R).as("a_row"), col(C).as("k"), col(V).as("a_val"))
    val b0 = other.df.select(col(R).as("k"), col(C).as("b_col"), col(V).as("b_val"))
    val b = if (tinyRight) broadcast(b0) else b0
    Matrix(a.join(b, "k")
      .groupBy(col("a_row").as(R), col("b_col").as(C))
      .agg(sum(col("a_val") * col("b_val")).as(V)))
  }

  def *(other: Matrix): Matrix = product(other)

  /** A·Aᵀ (the Gram matrix of the rows) exploiting symmetry: only the
    * upper triangle is aggregated (half the shuffle/agg work of a
    * general product), then mirrored. Off-diagonal (i,j) and (j,i) are
    * numerically identical by construction.
    *
    * The self-join is hinted SHUFFLE_HASH: both inputs are the same
    * relation, so the sort-merge plan sorts the data twice for no
    * benefit (measured 1.4× slower at sf0.1). Hash
    * build sides hold one key-partition of A; AQE skew-join splits
    * oversized contraction keys (supported for shuffled-hash since
    * Spark 3.2). Pass `preferShuffleHash = false` to let Catalyst
    * fall back to sort-merge when a partition of A cannot fit in
    * executor memory.
    */
  def grammian: Matrix = grammian(preferShuffleHash = true)

  def grammian(preferShuffleHash: Boolean): Matrix = {
    val a0 = df.select(col(R).as("r1"), col(C).as("k"), col(V).as("v1"))
    val a = if (preferShuffleHash) a0.hint("SHUFFLE_HASH") else a0
    val b = df.select(col(R).as("r2"), col(C).as("k"), col(V).as("v2"))
    val upper = a.join(b, Seq("k"))
      .filter(col("r1") <= col("r2"))
      .groupBy("r1", "r2")
      .agg(sum(col("v1") * col("v2")).as(V))
    // mirror in the same pass (explode, not union — a union would
    // recompute the join+agg once per branch)
    Matrix(upper.select(explode(array(
        struct(col("r1").as(R), col("r2").as(C), col(V)),
        when(col("r1") =!= col("r2"),
          struct(col("r2").as(R), col("r1").as(C), col(V))))).as("e"))
      .filter(col("e").isNotNull)
      .select(col(s"e.$R"), col(s"e.$C"), col(s"e.$V")))
  }

  /** Product with the reference's SizeHint-driven strategy selection
    * (MatrixProduct.getJoiner, MatrixProduct.scala:88-108): a right
    * side at or under `maxTinyJoin` cells is broadcast ("tiny join"),
    * otherwise a shuffle join.
    */
  def productWithHint(other: Matrix, otherCells: Long): Matrix =
    product(other, tinyRight = otherCells <= Matrix.maxTinyJoin)

  /** Scalar multiply. */
  def *(k: Double): Matrix = mapValues(_ * k)

  /** Element-wise sum: union + group-sum (Matrix.+). Exact-zero sums
    * are dropped — the reference's monoid `nonZeroOption` sparse-zero
    * policy (so A − A is the empty matrix, and a difference against an
    * intersection erases the shared cells, MatrixTutorial3).
    */
  def +(other: Matrix): Matrix =
    Matrix(df.unionByName(other.df)
      .groupBy(R, C).agg(sum(V).as(V))
      .filter(col(V) =!= 0.0))

  def -(other: Matrix): Matrix = this + (other * -1.0)

  /** Hadamard (element-wise) product (Matrix.elemWiseOp). */
  def hProd(other: Matrix): Matrix =
    Matrix(df.alias("a")
      .join(other.df.alias("b"), Seq(R, C), "inner")
      .select(col(R), col(C), (col(s"a.$V") * col(s"b.$V")).as(V)))

  /** Keep entries whose (row,col) appear in `that` — left-semi
    * (keepElementsBy, Matrix.scala:632).
    */
  def keepElementsBy(that: Matrix): Matrix =
    Matrix(df.join(that.df.select(R, C), Seq(R, C), "left_semi"))

  /** Remove entries present in `that` — left-anti (removeElementsBy,
    * Matrix.scala:637-640; the reference implemented this as LeftJoin
    * + null filter, identical semantics).
    */
  def removeElementsBy(that: Matrix): Matrix =
    Matrix(df.join(that.df.select(R, C), Seq(R, C), "left_anti"))

  def keepRowsBy(keys: DataFrame): Matrix =
    Matrix(df.join(keys.toDF(R), Seq(R), "left_semi"))

  def removeRowsBy(keys: DataFrame): Matrix =
    Matrix(df.join(keys.toDF(R), Seq(R), "left_anti"))

  def keepColsBy(keys: DataFrame): Matrix =
    Matrix(df.join(keys.toDF(C), Seq(C), "left_semi"))

  def removeColsBy(keys: DataFrame): Matrix =
    Matrix(df.join(keys.toDF(C), Seq(C), "left_anti"))

  /** Sum of the ROW vectors — every row added together elementwise,
    * so the result is indexed by COLUMN (reference sumRowVectors,
    * Matrix.scala:270-272: groups by the col symbol). Note the
    * reference names these after the vectors being summed, not the
    * grouping axis.
    */
  def sumRowVectors: DataFrame =
    df.groupBy(C).agg(sum(V).as(V))

  /** L1-normalize each row (Matrix.rowL1Normalize:725). */
  def rowL1Normalize: Matrix = {
    val norms = df.groupBy(col(R)).agg(sum(abs(col(V))).as("__n"))
    Matrix(df.join(norms, R)
      .select(col(R), col(C), (col(V) / col("__n")).as(V)))
  }

  /** L2-normalize each row (Matrix.rowL2Normalize:775). */
  def rowL2Normalize: Matrix = {
    val norms = df.groupBy(col(R))
      .agg(sqrt(sum(col(V) * col(V))).as("__n"))
    Matrix(df.join(norms, R)
      .select(col(R), col(C), (col(V) / col("__n")).as(V)))
  }

  /** Replace all values with `v` (binarizeAs when v=1). */
  def binarizeAs(v: Double = 1.0): Matrix = mapValues(_ => lit(v))

  /** Sum of the COLUMN vectors — per-ROW totals, what rowL1Normalize
    * divides by (reference sumColVectors, Matrix.scala:399-401:
    * transpose.sumRowVectors.transpose).
    */
  def sumColVectors: DataFrame = df.groupBy(R).agg(sum(V).as(V))

  /** L0-normalize rows: divide by the count of PRESENT entries
    * (Matrix.rowL0Normalize:324-332 — `mapValues{1.0}` maps every
    * stored cell to 1.0, explicit zeros included, before the count),
    * and drop exact-zero outputs (the product's filterOutZeros).
    */
  def rowL0Normalize: Matrix = {
    val norms = df.groupBy(col(R))
      .agg(count(lit(1)).cast("double").as("__n"))
    Matrix(df.join(norms, Seq(R))
      .select(col(R), col(C), (col(V) / col("__n")).as(V))
      .filter(col(V) =!= 0.0))
  }

  /** Column-side normalizations: transpose, row op, transpose back —
    * the reference's own construction (Matrix.scala:412-418); the
    * transposes are free column renames, the shuffle count is
    * identical to the row forms (grouped by col instead of row).
    */
  def colL0Normalize: Matrix = transpose.rowL0Normalize.transpose
  def colL1Normalize: Matrix = transpose.rowL1Normalize.transpose
  def colL2Normalize: Matrix = transpose.rowL2Normalize.transpose

  /** Subtract each row's mean over its PRESENT entries — sparse
    * semantics exactly as the reference (meanCenter,
    * Matrix.scala:154-160: average of observed values only; applied
    * through mapRows:281 whose filterOutZeros drops exact-zero
    * results, so a cell equal to its row mean — in particular every
    * single-entry row — vanishes from the output).
    */
  def rowMeanCentering: Matrix = {
    val means = df.groupBy(col(R)).agg(avg(col(V)).as("__m"))
    Matrix(df.join(means, Seq(R))
      .select(col(R), col(C), (col(V) - col("__m")).as(V))
      .filter(col(V) =!= 0.0))
  }

  def colMeanCentering: Matrix = transpose.rowMeanCentering.transpose

  /** Per-row (nonzero count, mean, population stddev) as columns
    * 1/2/3 of a new matrix (rowSizeAveStdev, Matrix.scala:370-382 —
    * moments over observed values only).
    */
  def rowSizeAveStdev: Matrix = {
    val m = df.groupBy(col(R)).agg(
      count(lit(1)).cast("double").as("__s"), avg(col(V)).as("__a"),
      coalesce(stddev_pop(col(V)), lit(0.0)).as("__d"))
    Matrix(m.select(col(R), explode(array(
      struct(lit(1L).as(C), col("__s").as(V)),
      struct(lit(2L).as(C), col("__a").as(V)),
      struct(lit(3L).as(C), col("__d").as(V)))).as("e"))
      .select(col(R), col(s"e.$C").as(C), col(s"e.$V").as(V)))
  }

  /** colSizeAveStdev keeps the reference's shape: moments of each
    * COLUMN, rows = original cols (Matrix.scala:428-430 — note the
    * reference does NOT transpose back).
    */
  def colSizeAveStdev: Matrix = transpose.rowSizeAveStdev

  /** Per-row closure over the present (col, val) entries
    * (Matrix.mapRows:277-291): the row's cells are collected, `fn`
    * rewrites them, zeros are dropped (the reference's
    * filterOutZeros). Requires long keys / double values (the gate
    * schema). One shuffle; each row must fit in memory — same
    * contract as the reference's toList.
    */
  def mapRows(fn: Seq[(Long, Double)] => Seq[(Long, Double)]): Matrix = {
    val spark = df.sparkSession
    import spark.implicits._
    val out = df
      .select(col(R).cast("long"), col(C).cast("long"), col(V).cast("double"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (r, it) =>
        fn(it.map(t => (t._2, t._3)).toSeq).iterator
          .filter(_._2 != 0.0).map { case (c, v) => (r, c, v) }
      }
    Matrix(out.toDF(R, C, V))
  }

  def mapCols(fn: Seq[(Long, Double)] => Seq[(Long, Double)]): Matrix =
    transpose.mapRows(fn).transpose

  /** Element-wise combine with sparse-zero semantics
    * (Matrix.zip + elemWiseOp:453-458): full-outer align on (row,
    * col), absent side reads as 0.0, zeros produced by `fn` are
    * dropped to keep the matrix sparse.
    */
  def elemWiseOp(other: Matrix)(fn: (Column, Column) => Column): Matrix = {
    val a = df.select(col(R), col(C), col(V).as("__va"))
    val b = other.df.select(col(R), col(C), col(V).as("__vb"))
    Matrix(a.join(b, Seq(R, C), "full")
      .select(col(R), col(C),
        fn(coalesce(col("__va"), lit(0.0)),
          coalesce(col("__vb"), lit(0.0))).as(V))
      .filter(col(V) =!= 0.0))
  }

  /** Zip each stored cell with the column vector's entry for its ROW,
    * then map the pair — the reference's `zip(ColVector)` followed by
    * `mapValues` (Matrix.scala:580-593, 211-217) fused into one step:
    * absent vector entries read as 0 (the zip's zero-preserving outer
    * semantics), and cells where `fn` yields 0 are dropped (mapValues'
    * monoid nonZeroOption). Divergence: vector entries on rows the
    * matrix never touches contribute nothing, where the reference's
    * outer join emits an index-less phantom cell (null column) that a
    * COO frame cannot represent and no caller can use.
    *
    * One broadcast-eligible join on the row key — the vector side is a
    * per-row aggregate in every known use, so Catalyst broadcasts it
    * and the matrix never shuffles.
    */
  def zipMapCol(vec: ColVector)(fn: (Column, Column) => Column): Matrix = {
    val v2 = vec.df.select(col("idx").as(R), col(V).as("__u"))
    Matrix(df.join(v2, Seq(R), "left")
      .select(col(R), col(C),
        fn(col(V), coalesce(col("__u"), lit(0.0))).as(V))
      .filter(col(V) =!= 0.0))
  }

  /** Zip each stored cell with the row vector's entry for its COLUMN —
    * `zip(RowVector)` + `mapValues` (Matrix.scala:595-608); same
    * semantics as [[zipMapCol]] on the other axis.
    */
  def zipMapRow(vec: RowVector)(fn: (Column, Column) => Column): Matrix = {
    val v2 = vec.df.select(col("idx").as(C), col(V).as("__u"))
    Matrix(df.join(v2, Seq(C), "left")
      .select(col(R), col(C),
        fn(col(V), coalesce(col("__u"), lit(0.0))).as(V))
      .filter(col(V) =!= 0.0))
  }

  /** Matrix-matrix zip + map (reference `zip(Matrix)`,
    * Matrix.scala:611-627): alias of [[elemWiseOp]], which already has
    * the zero-preserving full-outer semantics.
    */
  def zipMap(other: Matrix)(fn: (Column, Column) => Column): Matrix =
    elemWiseOp(other)(fn)

  /** Map each stored value with access to its indices — only nonzero
    * cells are visited, and zero results are dropped (reference
    * mapWithIndex, Matrix.scala:221-227).
    */
  def mapWithIndex(fn: (Column, Column, Column) => Column): Matrix =
    Matrix(df.select(col(R), col(C), fn(col(V), col(R), col(C)).as(V))
      .filter(col(V) =!= 0.0))

  /** Fold all rows into one row vector with an aggregate over each
    * column's present entries; zeros dropped (reference
    * reduceRowVectors, Matrix.scala:255-266 — the closure reduce is
    * expressed as an aggregate Column, e.g. `max`, `min`, `product`).
    */
  def reduceRowVectors(agg: Column => Column): RowVector =
    RowVector(df.groupBy(col(C).as("idx")).agg(agg(col(V)).as(V))
      .filter(col(V) =!= 0.0))

  /** Fold all columns into one column vector (reference
    * reduceColVectors, Matrix.scala:395-397).
    */
  def reduceColVectors(agg: Column => Column): ColVector =
    ColVector(df.groupBy(col(R).as("idx")).agg(agg(col(V)).as(V))
      .filter(col(V) =!= 0.0))

  /** Σ over every cell as a 1-row scalar frame (reference Matrix.sum,
    * Matrix.scala:501-503). Coalesced: an empty matrix sums to 0.
    */
  def sum_ : DataFrame =
    df.agg(coalesce(sum(col(V)), lit(0.0)).as("scalar"))

  /** Pair every nonzero with a 1-row scalar frame (column `scalar`)
    * and map — reference nonZerosWith (Matrix.scala:557-563), the
    * crossWithTiny idiom: the scalar broadcasts, the matrix never
    * shuffles.
    */
  def nonZerosWith(scalar: DataFrame)(fn: (Column, Column) => Column): Matrix =
    Matrix(df.crossJoin(broadcast(scalar))
      .select(col(R), col(C), fn(col(V), col("scalar")).as(V))
      .filter(col(V) =!= 0.0))

  /** Row `r` as a RowVector (reference getRow, Matrix.scala:510). */
  def getRow(r: Long): RowVector = Vectors.rowOf(this, r)

  /** Column `c` as a ColVector (reference getCol, Matrix.scala:514). */
  def getCol(c: Long): ColVector = Vectors.colOf(this, c)

  /** [[sumColVectors]] as a ColVector view (idx = row id). */
  def sumColVector: ColVector =
    ColVector(sumColVectors.select(col(R).as("idx"), col(V)))

  /** [[sumRowVectors]] as a RowVector view (idx = column id). */
  def sumRowVector: RowVector =
    RowVector(sumRowVectors.select(col(C).as("idx"), col(V)))

  /** Per-column top-k (topColElems, Matrix.scala:407-409). */
  def topColElems(k: Int): Matrix = transpose.topRowElems(k).transpose

  /** Per-row top-k elements by value (topRowElems,
    * Matrix.scala:296-322). The reference switched between a PQ monoid
    * (k < 1000) and sort+take; the window form below shuffles by row
    * once — the PQ-aggregator path is available via
    * graft.agg.Aggregators.sortedTake for the typed pipeline.
    */
  def topRowElems(k: Int): Matrix = {
    val w = Window.partitionBy(col(R)).orderBy(col(V).desc, col(C))
    Matrix(df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn"))
  }

  /** Diagonal as a matrix (diagonal). */
  def diagonal: Matrix = Matrix(df.filter(col(R) === col(C)))

  /** trace = Σ diagonal (Scalar in the reference, Matrix.scala:706). */
  def trace: DataFrame = diagonal.df.agg(sum(V).as("trace"))

  /** Propagate row labels through the graph: for each edge (r,c,w),
    * emit c ← w * rowLabel(r), summed per target — the reference's
    * `propagate` used for label/rank propagation
    * (Matrix.scala:
    * used by PageRank-like pipelines). `labels` is (row, val).
    */
  def propagate(labels: DataFrame): DataFrame =
    df.join(labels.toDF(R, "__label"), Seq(R))
      .groupBy(col(C).as(R))
      .agg(sum(col(V) * col("__label")).as(V))

  /** Cosine similarity of all row pairs via normalized self-product:
    * the Gram matrix of the L2-normalized rows (symmetric fast path).
    */
  def rowCosineSimilarity: Matrix = rowL2Normalize.grammian

  /** Dominant right singular vector (and value) by power iteration on
    * AᵀA — the first LSA/PCA direction of a COO matrix, computed with
    * the library's own propagate machinery: each iteration is TWO
    * edge-keyed propagate passes (v ← Aᵀ(Av)) plus a tiny norm
    * aggregate read at the submitter (the convergence scalar — the
    * reference's `Job.next` idiom, reference `examples/PageRank
    * .scala:54-81`). Deterministic: starts from the all-ones vector;
    * a [[Lineage.iterate]] cut per iteration keeps the plan flat. Returns
    * (col, weight) unit-normalized, plus the Rayleigh estimate of the
    * top singular value σ₁ = √λ₁.
    *
    * Scale: never materializes AᵀA (the deg² blowup) — only
    * matrix-vector products, each one join + groupBy over the COO
    * edges against a vector the size of the column space.
    */
  def topSingularVector(iters: Int = 20): (DataFrame, Double) = {
    require(iters >= 1, "iters must be >= 1")
    val at = transpose
    val v0 = df.select(col(C).as(R)).distinct().withColumn(V, lit(1.0))
    var lambda = 0.0
    val v = Lineage.iterate(v0, iters) { v =>
      // w = A v (row space; propagate of the TRANSPOSE maps the
      // column-indexed v through the edges), then u = Aᵀ w = (AᵀA) v
      val w = at.propagate(v.select(col(R), col(V)))
      val u = propagate(w.select(col(R), col(V)))
      val norm = math.sqrt(
        u.agg(sum(col(V) * col(V))).head().getDouble(0))
      require(norm > 0, "matrix annihilated the iterate (rank issue)")
      lambda = norm
      u.select(col(R), (col(V) / norm).as(V))
    }((_, _) => false)
    (v.select(col(R).as(C), col(V).as("weight")), math.sqrt(lambda))
  }

  /** DIMSUM entry sampling (Zadeh & Carlsson, "Dimension Independent
    * Matrix Square using MapReduce"; the algorithm behind Spark
    * MLlib's RowMatrix.columnSimilarities — public). Each entry of row
    * i survives with probability p_i = min(1, t / ||r_i||) and carries
    * weight v / (||r_i|| · p_i), so products of surviving entries are
    * unbiased estimators of normalized-row products. The coin is a
    * deterministic xxhash64 of (row, col, seed): results are exactly
    * reproducible across runs and partitionings.
    *
    * Rows with ||r_i|| <= t keep every entry (exact); only heavy rows
    * are thinned. This is the 100 TB escape hatch for the grammian's
    * inherent Σ_k deg(k)² join intermediate: after sampling, the
    * expected number of surviving co-occurrences for a similar row
    * pair is ~t² regardless of how many the raw data holds, so the
    * contraction shuffle stops growing with the data.
    */
  def dimsumSample(t: Double, seed: Long = 0x5eed): Matrix = {
    require(t > 0.0, s"sampling scale t must be positive, got $t")
    val norms = df.groupBy(R).agg(sqrt(sum(col(V) * col(V))).as("__norm"))
    val u = xxhash64(col(R), col(C), lit(seed))
      .bitwiseAND(lit(Long.MaxValue)).cast("double") / Long.MaxValue.toDouble
    Matrix(df.join(norms, Seq(R))
      .withColumn("__p", least(lit(1.0), lit(t) / col("__norm")))
      .filter(u < col("__p"))
      .select(col(R), col(C),
        (col(V) / (col("__norm") * col("__p"))).as(V)))
  }

  /** Approximate all-pairs row cosine similarity: grammian of the
    * DIMSUM-sampled normalized matrix. Off-diagonal entries are
    * unbiased estimates of the true cosines (both-sides survival is
    * independent, probability p_i·p_j); the diagonal estimator is
    * biased (self-pairs survive with p_i, not p_i²), so diagonal
    * values are forced to their exact value 1. A row whose entries
    * were all sampled away contributes no pairs (estimate 0 — treat
    * absent as 0, exactly like the sparse zero convention).
    */
  def rowCosineDimsum(t: Double, seed: Long = 0x5eed): Matrix = {
    // materialize the sampled matrix once: the grammian self-joins it,
    // and AQE's exchange reuse does not reliably dedup the two derived
    // subtrees (observed: norms + sampling recomputed per side) — at
    // scale that is two extra input passes. Tracked in the shared
    // registry; callers drop via PipelineCaches.unpersistAll().
    val sampled =
      graft.core.PipelineCaches.persistTracked(dimsumSample(t, seed).df)
    val est = Matrix(sampled).grammian
    Matrix(est.df.withColumn(V,
      when(col(R) === col(C), 1.0).otherwise(col(V))))
  }
}

object Matrix {
  /** Canonical COO column names. */
  val R = "row"
  val C = "col"
  val V = "val"

  /** Reference broadcast cutoff (MatrixProduct.maxTinyJoin,
    * MatrixProduct.scala:88).
    */
  val maxTinyJoin = 100000L

  def fromCoo(df: DataFrame, row: String, colName: String, v: String): Matrix =
    Matrix(df.select(col(row).as(R), col(colName).as(C), col(v).cast("double").as(V)))
}
