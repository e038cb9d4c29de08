package graft.dsl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}

/** Fields-style DataFrame facade — the rebuild of the reference's
  * `RichPipe` (RichPipe.scala:59-594). Where the reference ran
  * arbitrary Scala closures per row, this facade takes `Column`
  * expressions so every operation stays declarative and Catalyst keeps
  * pushdown/pruning/codegen; closure escapes go through the typed API
  * (graft.typed).
  */
object FieldsApi {

  /** Group-run key for [[RichDataFrame.mapStreamByKey]]: equality and
    * hashing run on the value-normalized copy (arrays → Seq) so
    * binary/array key columns group by VALUE, while `orig` keeps the
    * schema-shaped cells for the output rows.
    */
  private[dsl] final case class GroupKey(orig: Seq[Any], cmp: Seq[Any]) {
    override def equals(o: Any): Boolean = o match {
      case g: GroupKey => g.cmp == cmp
      case _ => false
    }
    override def hashCode: Int = cmp.hashCode
  }

  implicit class RichDataFrame(val df: DataFrame) extends AnyVal {

    /** Keep only these fields (RichPipe.project, RichPipe.scala:126). */
    def project(fields: String*): DataFrame = df.select(fields.map(col): _*)

    /** Drop fields (RichPipe.discard, RichPipe.scala:134). */
    def discard(fields: String*): DataFrame = df.drop(fields: _*)

    /** Rename fields pairwise (RichPipe.rename, RichPipe.scala:296). */
    def rename(pairs: (String, String)*): DataFrame =
      df.withColumnsRenamed(pairs.toMap)

    /** Add a constant/computed column (RichPipe.insert,
      * RichPipe.scala:277).
      */
    def insert(field: String, value: Column): DataFrame =
      df.withColumn(field, value)

    /** Map selected fields into a new field — the declarative
      * counterpart of `map(fs)(fn)` (RichPipe.scala:372); `mapTo`
      * keeps only the results.
      */
    def mapField(field: String, expr: Column): DataFrame =
      df.withColumn(field, expr)

    def mapTo(exprs: (Column, String)*): DataFrame =
      df.select(exprs.map { case (e, n) => e.as(n) }: _*)

    /** Explode an array column to rows (RichPipe.flatten,
      * RichPipe.scala:406). Flattening in place (as == field) replaces
      * the column rather than dropping it.
      */
    def flatten(field: String, as: String): DataFrame = {
      val exploded = df.withColumn(as, explode(col(field)))
      if (as == field) exploded else exploded.drop(field)
    }

    /** Approximate-in-reference, exact here (RichPipe.limit:477). */
    def limitTo(n: Int): DataFrame = df.limit(n)

    def sampleRows(fraction: Double, seed: Long = 42L): DataFrame =
      df.sample(withReplacement = false, fraction, seed)

    /** Print rows (RichPipe.debug, RichPipe.scala:494). */
    def debugDump(n: Int = 20): DataFrame = { df.show(n, truncate = false); df }

    /** Union-all (RichPipe.++, RichPipe.scala:170). */
    def ++(other: DataFrame): DataFrame = df.unionAll(other)

    /** Random repartition to exactly n tasks (RichPipe.shard,
      * RichPipe.scala:199).
      */
    def shard(n: Int): DataFrame = df.repartition(n)

    /** Global random reorder with fixed seed (RichPipe.shuffle,
      * RichPipe.scala:243).
      */
    def shuffleRows(seed: Long = 42L): DataFrame = df.orderBy(rand(seed))

    /** Materialization barrier (RichPipe.forceToDisk:428). */
    def forceToDisk: DataFrame = graft.core.PipelineCaches.persistTracked(df)

    /** Wide → long (RichPipe.unpivot, RichPipe.scala:469). */
    def unpivotTo(ids: Seq[String], values: Seq[String],
        keyField: String = "feature", valueField: String = "value"): DataFrame =
      df.unpivot(ids.map(col).toArray, values.map(col).toArray, keyField, valueField)

    /** Divide a column by its global sum (RichPipe.normalize:528) —
      * scalar aggregate broadcast back, no single-reducer stage.
      */
    def normalize(field: String): DataFrame = {
      val total = df.agg(sum(col(field)).as("__total"))
      df.crossJoin(broadcast(total))
        .withColumn(field, col(field) / col("__total"))
        .drop("__total")
    }

    /** Classify rows then aggregate per class
      * (RichPipe.partition:324).
      */
    def partitionBy(cls: Column, as: String)(
        agg: GroupBuilder => GroupBuilder): DataFrame =
      df.withColumn(as, cls).groupByFields(as)(agg)

    /** Per-group fixed-width histogram (ReduceOperations.histogram:
      * 446): two-phase group-by, one row per (keys..., bin) with its
      * count — collect and feed graft.agg.Histogram for client-side
      * percentile/cdf stats.
      */
    def histogramBy(field: String, binWidth: Double, keys: String*): DataFrame =
      df.groupBy((keys.map(col) :+
        (floor(col(field) / binWidth) * binWidth).as("bin")): _*)
        .agg(count(lit(1)).as("cnt"))

    /** Long→wide pivot with the reference's strictness
      * (ReduceOperations.pivot:174-186): a repeated (key, feature)
      * pair is an error (the reference asserted), absent cells take
      * `default`. Spark's own pivot silently keeps `first`; this wraps
      * it with an any-duplicate check that fails the job like the
      * reference did.
      */
    def pivotStrict(keyCol: String, featureCol: String, valueCol: String,
        features: Seq[String], default: Column): DataFrame = {
      val counted = df.groupBy(col(keyCol), col(featureCol))
        .agg(count(lit(1)).as("__n"), first(col(valueCol)).as("__v"))
        .withColumn("__v",
          when(col("__n") > 1,
            raise_error(concat(lit("duplicate pivot cell for key="),
              col(keyCol).cast("string"), lit(" feature="), col(featureCol))))
            .otherwise(col("__v")))
      counted.groupBy(keyCol)
        .pivot(featureCol, features)
        .agg(first("__v"))
        .select(col(keyCol) +: features.map(f =>
          coalesce(col(s"`$f`"), default).as(f)): _*)
    }

    /** groupBy with a builder block — reference
      * `pipe.groupBy('k){ _.sum('v) }` (RichPipe.scala:153).
      */
    def groupByFields(keys: String*)(build: GroupBuilder => GroupBuilder): DataFrame =
      build(new GroupBuilder(Nil)).applyTo(df, keys)

    /** Single global group (RichPipe.groupAll:178). */
    def groupAllFields(build: GroupBuilder => GroupBuilder): DataFrame =
      build(new GroupBuilder(Nil)).applyGlobal(df)

    /** Function application for pipeline composition (RichPipe.then,
      * RichPipe.scala:139) — same as Dataset.transform, kept for API
      * fidelity.
      */
    def thenDo(fn: DataFrame => DataFrame): DataFrame = fn(df)

    /** Pack fields into one struct column (RichPipe.pack,
      * RichPipe.scala:550-565; TuplePacker reflection becomes a
      * native struct).
      */
    def pack(as: String, fields: String*): DataFrame =
      df.withColumn(as, struct(fields.map(col): _*)).drop(fields: _*)

    /** Unpack a struct column back into top-level fields
      * (RichPipe.unpack, RichPipe.scala:577-594).
      */
    def unpack(field: String): DataFrame =
      df.select((df.columns.filter(_ != field).map(col).toSeq :+
        col(s"$field.*")): _*)

    /** Route rows that fail a validity predicate to a side sink
      * instead of failing the flow (addTrap, RichPipe.scala:515-518).
      * Returns (good, trapped). Declarative form for expressible
      * validity; for the reference's actual closure-exception
      * contract use [[trapThrows]].
      */
    def trap(valid: Column): (DataFrame, DataFrame) =
      (df.filter(valid), df.filter(!coalesce(valid, lit(false))))

    /** The reference's raw Cascading Buffer / `every` escape hatch in
      * its semantic form (GroupBuilder.buffer / mapStream,
      * GroupBuilder.scala:121-140, 215-229): stream each group's rows
      * — secondary-sorted by `sortBy` — LAZILY through a closure that
      * may keep, drop, scan, or expand them. Output rows carry the
      * grouping fields plus the declared `out` fields only (Cascading
      * did not keep other fields aligned either — its in-source
      * warning is this contract made explicit). Like the reference's
      * warning says, this kills map-side aggregation: one shuffle by
      * key, values arrive as sorted runs (`repartition` +
      * `sortWithinPartitions` + run-grouping — the typed
      * `mapValueStream` machinery), no per-group materialization
      * beyond the closure's own state.
      */
    def mapStreamByKey(keys: Seq[String], sortBy: Seq[String] = Nil)(
        from: Seq[String],
        out: Seq[org.apache.spark.sql.types.StructField])(
        fn: Iterator[Seq[Any]] => IterableOnce[Seq[Any]]): DataFrame = {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types.StructType
      val kIdx = keys.map(df.columns.indexOf(_))
      val fIdx = from.map(df.columns.indexOf(_))
      val sIdx = sortBy.map(df.columns.indexOf(_))
      require((kIdx ++ fIdx ++ sIdx).forall(_ >= 0),
        s"mapStreamByKey: unknown field among ${keys ++ from ++ sortBy} " +
          s"for ${df.columns.toSeq}")
      val shadowed = out.map(_.name).toSet.intersect(keys.toSet)
      require(shadowed.isEmpty,
        s"mapStreamByKey: out fields $shadowed shadow key fields " +
          "(the result would carry duplicate columns)")
      val sorted = df.repartition(keys.map(col): _*)
        .sortWithinPartitions((keys ++ sortBy).map(col): _*)
      val enc = Encoders.row(StructType(
        kIdx.map(df.schema.fields(_)) ++ out))
      // binary / array-typed key cells are java arrays inside Row —
      // reference equality would make every row its own group, so run
      // detection compares value-normalized copies while the output
      // rows carry the original (schema-shaped) key values
      def normKey(v: Any): Any = v match {
        case a: Array[_] => a.toSeq.map(normKey)
        case s: scala.collection.Seq[_] => s.map(normKey)
        case x => x
      }
      sorted.mapPartitions { it =>
        new graft.typed.GroupRunIterator[Row](it,
          r => GroupKey(kIdx.map(r.get), kIdx.map(i => normKey(r.get(i)))))
          .flatMap { case (kAny, rows) =>
            val kVals = kAny.asInstanceOf[GroupKey].orig
            fn(rows.map(r => fIdx.map(r.get))).iterator
              .map(o => Row.fromSeq(kVals ++ o))
          }
      }(enc)
    }

    /** Reference `addTrap` closure-throw semantics (RichPipe.scala:
      * 515-518, exercised by CoreTest.scala:1366-1399): run a row
      * closure over the `from` fields, appending its results as the
      * `out` fields; rows whose closure THROWS are routed to the
      * returned trap frame — the operation's input fields plus the
      * error message (the reference carried the fields only) — and
      * the main flow continues without them. Like the reference's
      * single-pass split, the closure and the upstream lineage run
      * ONCE: one mapPartitions pass produces a persisted tagged union
      * (registered with [[graft.core.PipelineCaches]]; MEMORY_AND_DISK
      * so eviction spills rather than recomputes) and both returned
      * frames filter it — so non-deterministic upstreams (samples,
      * shuffles, tie-broken limits) still partition the input exactly,
      * and side-effecting closures fire once per row. Unpersist via
      * PipelineCaches once both branches are consumed.
      */
    def trapThrows(from: Seq[String],
        out: Seq[org.apache.spark.sql.types.StructField])(
        fn: Seq[Any] => Seq[Any]): (DataFrame, DataFrame) = {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      val idx = from.map(df.columns.indexOf(_))
      require(idx.forall(_ >= 0),
        s"trapThrows: unknown field among $from for ${df.columns.toSeq}")
      val errCol = "__graft_trap_error"
      require(!df.columns.contains(errCol) && !out.exists(_.name == errCol),
        s"trapThrows: reserved column name $errCol in input/out")
      val taggedEnc = Encoders.row(StructType(
        (df.schema.fields.toSeq ++ out) :+ StructField(errCol, StringType)))
      val nulls: Seq[Any] = out.map(_ => null)
      val tagged = graft.core.PipelineCaches.persistTracked(
        df.mapPartitions(_.map { r =>
          scala.util.Try(fn(idx.map(r.get))) match {
            case scala.util.Success(o) => Row.fromSeq((r.toSeq ++ o) :+ null)
            case scala.util.Failure(e) =>
              // a null message would mis-route the row to the good
              // branch; the class name is also stable across retries
              Row.fromSeq((r.toSeq ++ nulls) :+
                Option(e.getMessage).getOrElse(e.getClass.getName))
          }
        })(taggedEnc))
      val good = tagged.filter(col(errCol).isNull).drop(errCol)
      val trapped = tagged.filter(col(errCol).isNotNull)
        .select(from.map(col) :+ col(errCol).as("error"): _*)
      (good, trapped)
    }
  }

  /** Chained aggregation builder — reference `GroupBuilder`
    * (GroupBuilder.scala:34-355). Accumulates Column aggregates; all
    * compile into one `RelationalGroupedDataset.agg`, so Catalyst
    * plans a single partial+final hash aggregate (the reference's
    * `AggregateBy` mode, GroupBuilder.scala:266-303, with no manual
    * spill-threshold tuning needed).
    */
  final class GroupBuilder private[dsl] (aggs: List[Column]) {

    private def add(c: Column): GroupBuilder = new GroupBuilder(c :: aggs)

    /** COUNT(*) (ReduceOperations.size:402). */
    def size(as: String = "size"): GroupBuilder = add(count(lit(1)).as(as))

    /** COUNT_IF (ReduceOperations.count:135). */
    def countIf(pred: Column, as: String): GroupBuilder =
      add(count_if(pred).as(as))

    def sum(field: String, as: String = ""): GroupBuilder =
      add(F.sum(col(field)).as(ifEmpty(as, field)))

    def average(field: String, as: String = ""): GroupBuilder =
      add(avg(col(field)).as(ifEmpty(as, field)))

    /** (count, mean, stddev) one pass (ReduceOperations:192). */
    def sizeAveStdev(field: String, sizeAs: String, aveAs: String,
        stdevAs: String): GroupBuilder =
      add(count(lit(1)).as(sizeAs))
        .add(avg(col(field)).as(aveAs))
        .add(stddev_pop(col(field)).as(stdevAs))

    def max(field: String, as: String = ""): GroupBuilder =
      add(F.max(col(field)).as(ifEmpty(as, field)))

    def min(field: String, as: String = ""): GroupBuilder =
      add(F.min(col(field)).as(ifEmpty(as, field)))

    /** First/last by an order key (ReduceOperations.head/last:207). */
    def headBy(field: String, order: Column, as: String): GroupBuilder =
      add(min_by(col(field), order).as(as))

    def lastBy(field: String, order: Column, as: String): GroupBuilder =
      add(max_by(col(field), order).as(as))

    def toList(field: String, as: String = ""): GroupBuilder =
      add(collect_list(col(field)).as(ifEmpty(as, field)))

    def toSet(field: String, as: String = ""): GroupBuilder =
      add(collect_set(col(field)).as(ifEmpty(as, field)))

    /** Deterministic ordered string join (ReduceOperations:276). */
    def mkString(field: String, sep: String, as: String = ""): GroupBuilder =
      add(array_join(array_sort(collect_list(col(field))), sep)
        .as(ifEmpty(as, field)))

    /** HLL estimate (approximateUniqueCount, ReduceOperations:103);
      * rsd default matches the reference's 1% error default.
      */
    def approximateUniqueCount(field: String, as: String = "",
        rsd: Double = 0.01): GroupBuilder =
      add(approx_count_distinct(col(field), rsd).as(ifEmpty(as, field)))

    def uniqueCount(field: String, as: String = ""): GroupBuilder =
      add(countDistinct(col(field)).as(ifEmpty(as, field)))

    /** AND over group (ReduceOperations.forall:200). */
    def forall(pred: Column, as: String): GroupBuilder =
      add(bool_and(pred).as(as))

    /** Σ lᵢ·rᵢ (ReduceOperations.dot:389). */
    def dot(l: String, r: String, as: String): GroupBuilder =
      add(F.sum(col(l) * col(r)).as(as))

    /** Bounded top-k values per group (`sortedTake`,
      * ReduceOperations.scala:420-444): sorted ascending, at most k
      * survive. Catalyst's BoundedPriorityQueue aggregate — partial
      * buffers hold ≤ k elements per task, so a skewed key shuffles k
      * rows, never the whole group (same shape as the typed
      * `Grouped.sortedTake` path).
      */
    def sortedTake(field: String, k: Int, as: String): GroupBuilder =
      add(org.apache.spark.sql.graft.AggShims
        .sortedTakeAsc(col(field), k).as(as))

    def sortedReverseTake(field: String, k: Int, as: String): GroupBuilder =
      add(org.apache.spark.sql.graft.AggShims
        .sortedTakeDesc(col(field), k).as(as))

    /** Any raw aggregate Column. */
    def agg(c: Column): GroupBuilder = add(c)

    private def ifEmpty(as: String, field: String) = if (as.isEmpty) field else as

    private[dsl] def applyTo(df: DataFrame, keys: Seq[String]): DataFrame = {
      val cols = aggs.reverse
      df.groupBy(keys.map(col): _*).agg(cols.head, cols.tail: _*)
    }

    private[dsl] def applyGlobal(df: DataFrame): DataFrame = {
      val cols = aggs.reverse
      df.agg(cols.head, cols.tail: _*)
    }
  }
}
