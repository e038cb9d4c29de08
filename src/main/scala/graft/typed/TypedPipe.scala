package graft.typed

import org.apache.spark.sql.{Column, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Aggregator

import graft.agg.{Aggregators, Monoid}

import scala.reflect.ClassTag

/** Type-safe pipeline facade — the rebuild of the reference's
  * `TypedPipe[T]` (TypedPipe.scala:80-200) as a thin wrapper over
  * `Dataset[T]`.
  *
  * The reference fuses adjacent map/filter/flatMap into one closure
  * before handing Cascading a single `Each` (TypedPipe.scala:103-139);
  * Spark gets the same effect from whole-stage codegen pipelining of
  * adjacent typed operators, so this wrapper stays 1:1 with Dataset and
  * adds no scheduling logic of its own.
  */
final class TypedPipe[T](val ds: Dataset[T]) extends Serializable {

  def map[U: Encoder](f: T => U): TypedPipe[U] = new TypedPipe(ds.map(f))

  def flatMap[U: Encoder](f: T => IterableOnce[U]): TypedPipe[U] =
    new TypedPipe(ds.flatMap(f))

  def filter(p: T => Boolean): TypedPipe[T] = new TypedPipe(ds.filter(p))

  def filterNot(p: T => Boolean): TypedPipe[T] = filter(!p(_))

  def collect[U: Encoder](pf: PartialFunction[T, U]): TypedPipe[U] =
    flatMap(t => pf.lift(t))

  /** Reference `addTrap` closure-throw semantics (RichPipe.scala:
    * 515-518, exercised by CoreTest.scala:1366-1399) as a typed
    * split: rows whose closure THROWS land in the second pipe as
    * (input, error message) — the reference dropped even the message
    * — and the first pipe is the surviving flow, unaffected. The
    * split decision is made ONCE: a single tagged pass over the input
    * is persisted (via [[graft.core.PipelineCaches]]) and both pipes
    * filter it, so a non-deterministic upstream cannot land a row in
    * both or neither branch. The closure re-runs on the persisted
    * inputs of surviving rows to produce the good outputs — it must
    * be deterministic given its input (the reference's Cascading
    * functions carried the same requirement); side effects may fire
    * twice per surviving row.
    */
  def tryMap[U: Encoder](f: T => U)(
      implicit et: Encoder[T]): (TypedPipe[U], TypedPipe[(T, String)]) = {
    val tagged = tagFailures(t => { f(t); () })
    val good = new TypedPipe(
      tagged.filter(_._2 == null).map(_._1)(et).map(f))
    (good, trappedOf(tagged))
  }

  /** [[tryMap]] for one-to-many closures. The per-row output is
    * materialized eagerly so a throw from a lazy iterator mid-stream
    * still routes the whole input row to the trap.
    */
  def tryFlatMap[U: Encoder](f: T => IterableOnce[U])(
      implicit et: Encoder[T]): (TypedPipe[U], TypedPipe[(T, String)]) = {
    val tagged = tagFailures(t => { f(t).iterator.toList; () })
    val good = new TypedPipe(tagged.filter(_._2 == null).map(_._1)(et)
      .flatMap(t => f(t).iterator.toList))
    (good, trappedOf(tagged))
  }

  /** One persisted (input, error-or-null) pass — the shared split
    * decision for [[tryMap]]/[[tryFlatMap]]. A null error message is
    * replaced by the exception class name so it cannot mis-route the
    * row (and stays stable across Spark task retries).
    */
  private def tagFailures(probe: T => Unit)(
      implicit et: Encoder[T]): Dataset[(T, String)] = {
    implicit val ts: Encoder[(T, String)] =
      Encoders.tuple(et, Encoders.STRING)
    graft.core.PipelineCaches.persistTracked(ds.map { t =>
      scala.util.Try(probe(t)) match {
        case scala.util.Failure(e) =>
          (t, Option(e.getMessage).getOrElse(e.getClass.getName))
        case _ => (t, null: String)
      }
    })
  }

  private def trappedOf(tagged: Dataset[(T, String)])(
      implicit et: Encoder[T]): TypedPipe[(T, String)] = {
    implicit val ts: Encoder[(T, String)] =
      Encoders.tuple(et, Encoders.STRING)
    new TypedPipe(tagged.filter(_._2 != null))
  }

  /** Union / merge (reference `++`, TypedPipe.scala:168). */
  def ++(other: TypedPipe[T]): TypedPipe[T] = new TypedPipe(ds.unionAll(other.ds))

  def distinct: TypedPipe[T] = new TypedPipe(ds.distinct())

  def limit(n: Int): TypedPipe[T] = new TypedPipe(ds.limit(n))

  def sample(fraction: Double, seed: Long = 42L): TypedPipe[T] =
    new TypedPipe(ds.sample(withReplacement = false, fraction, seed))

  def debug: TypedPipe[T] = { ds.show(20, truncate = false); this }

  /** Materialization barrier (reference `forceToDisk`,
    * TypedPipe.scala:148).
    */
  def forceToDisk: TypedPipe[T] = new TypedPipe(graft.core.PipelineCaches.persistTracked(ds))

  /** Group by a derived key (TypedPipe.scala:150-167). */
  def groupBy[K: Encoder](f: T => K)(implicit ev: Encoder[T]): Grouped[K, T] = {
    implicit val kv: Encoder[(K, T)] = Encoders.tuple(implicitly[Encoder[K]], ev)
    new Grouped(ds.map(t => (f(t), t)))
  }

  /** Treat a pipe of pairs as key/value grouped (TypedPipe `group`). */
  def group[K: Encoder, V: Encoder](implicit ev: T <:< (K, V)): Grouped[K, V] = {
    implicit val kv: Encoder[(K, V)] =
      Encoders.tuple(implicitly[Encoder[K]], implicitly[Encoder[V]])
    new Grouped(ds.map(t => ev(t)))
  }

  /** Single global group (reference `groupAll`, RichPipe.scala:178 —
    * there a 1-reducer bottleneck, here a partial+final aggregate).
    */
  def groupAll(implicit ev: Encoder[T]): Grouped[Boolean, T] =
    groupBy(_ => true)(Encoders.scalaBoolean, ev)

  /** Cartesian with a tiny side, broadcast (TypedPipe.scala:97-101). */
  def cross[U](tiny: TypedPipe[U]): TypedPipe[(T, U)] =
    new TypedPipe(ds.joinWith(F.broadcast(tiny.ds), F.lit(true), "inner"))

  def toDF(cols: String*): org.apache.spark.sql.DataFrame =
    if (cols.isEmpty) ds.toDF() else ds.toDF(cols: _*)

  /** Function application for pipeline composition (reference `then`,
    * RichPipe.scala:139).
    */
  def thenDo[U](fn: TypedPipe[T] => TypedPipe[U]): TypedPipe[U] = fn(this)

  /** Per-task expensive non-serializable resource with a release
    * lifecycle — reference `using(resource){...}` (RichPipe.scala:
    * 73-119, Operations.scala:168-219). `open` runs once per
    * partition; `release` is called when the partition's iterator is
    * exhausted, matching the reference's flush-at-end semantics.
    */
  def usingMap[C, U: Encoder](open: () => C, release: C => Unit)(
      fn: (C, T) => U): TypedPipe[U] =
    new TypedPipe(ds.mapPartitions { it =>
      TypedPipe.withResource(open, release) { (res, onDrained) =>
        val mapped = it.map(t => fn(res, t))
        new Iterator[U] {
          def hasNext: Boolean = {
            val h = mapped.hasNext
            if (!h) onDrained()
            h
          }
          def next(): U = mapped.next()
        }
      }
    })

  def usingFlatMap[C, U: Encoder](open: () => C, release: C => Unit)(
      fn: (C, T) => IterableOnce[U]): TypedPipe[U] =
    new TypedPipe(ds.mapPartitions { it =>
      TypedPipe.withResource(open, release) { (res, onDrained) =>
        val out = it.flatMap(t => fn(res, t))
        new Iterator[U] {
          def hasNext: Boolean = {
            val h = out.hasNext
            if (!h) onDrained()
            h
          }
          def next(): U = out.next()
        }
      }
    })
}

object TypedPipe {
  def from[T](ds: Dataset[T]): TypedPipe[T] = new TypedPipe(ds)

  def from[T: Encoder](spark: SparkSession, items: Seq[T]): TypedPipe[T] =
    new TypedPipe(spark.createDataset(items))

  /** Per-partition resource lifecycle: `release` fires exactly once —
    * eagerly when the output iterator is drained (the reference's
    * flush-at-end, Operations.scala:168-219) AND as a task-completion
    * listener, so early-terminating consumers (limit/take) or task
    * failures cannot leak the resource.
    */
  private[typed] def withResource[C, U](open: () => C, release: C => Unit)(
      body: (C, () => Unit) => Iterator[U]): Iterator[U] = {
    val resource = open()
    var released = false
    def releaseOnce(): Unit =
      if (!released) { released = true; release(resource) }
    val ctx = org.apache.spark.TaskContext.get()
    if (ctx != null) ctx.addTaskCompletionListener[Unit](_ => releaseOnce())
    body(resource, () => releaseOnce())
  }
}

/** Post-groupBy surface — reference `Grouped[K,T]` / `KeyedList`
  * (TypedPipe.scala:224-500), over a `Dataset[(K, V)]` (columns
  * `_1`/`_2`). Unsorted aggregations compile to
  * `groupByKey.agg(Aggregator)` ⇒ Catalyst plans map-side partial
  * aggregation, matching the reference's `AggregateBy` mode
  * (GroupBuilder.scala:266-303). Order-sensitive ops go through
  * [[sortBy]] ⇒ [[SortedGrouped]], the rebuild of the reference's
  * secondary sort (GroupBuilder.scala:279-287).
  */
final class Grouped[K, V](val kvs: Dataset[(K, V)])(
    implicit val kEnc: Encoder[K], val vEnc: Encoder[V],
    val kvEnc: Encoder[(K, V)]) extends Serializable {

  private def keyed = kvs.groupByKey(_._1)

  def mapValues[U: Encoder](f: V => U): Grouped[K, U] = {
    implicit val ku: Encoder[(K, U)] = Encoders.tuple(kEnc, implicitly[Encoder[U]])
    new Grouped(kvs.map { case (k, v) => (k, f(v)) })
  }

  def keys: TypedPipe[K] = new TypedPipe(kvs.map(_._1))
  def values: TypedPipe[V] = new TypedPipe(kvs.map(_._2))
  def toTypedPipe: TypedPipe[(K, V)] = new TypedPipe(kvs)

  /** Plug any Aggregator (reference `aggregate(algebird.Aggregator)`,
    * TypedPipe.scala:238-241).
    */
  def aggregate[B, C: Encoder](agg: Aggregator[V, B, C]): TypedPipe[(K, C)] =
    new TypedPipe(keyed.mapValues(_._2).agg(agg.toColumn))

  /** Monoid sum per key (reference `sum[T: Semigroup]`,
    * TypedPipe.scala:447-464 — MapsideReduce + final reduce; here
    * partial+final aggregation).
    */
  def sum(implicit m: Monoid[V]): TypedPipe[(K, V)] =
    aggregate(Aggregators.monoidSum[V](vEnc, m))(vEnc)

  /** Commutative reduce per key (ReduceOperations.scala:309-317). */
  def reduce(fn: (V, V) => V): TypedPipe[(K, V)] = {
    val ve: Encoder[V] = vEnc
    aggregate(new Aggregator[V, Option[V], V] {
      def zero: Option[V] = None
      def reduce(b: Option[V], a: V): Option[V] = Some(b.map(fn(_, a)).getOrElse(a))
      def merge(a: Option[V], b: Option[V]): Option[V] = (a, b) match {
        case (Some(x), Some(y)) => Some(fn(x, y))
        case (x, y) => x.orElse(y)
      }
      def finish(b: Option[V]): V = b.get
      def bufferEncoder: Encoder[Option[V]] = Encoders.kryo[Option[V]]
      def outputEncoder: Encoder[V] = ve
    })(vEnc)
  }

  def size: TypedPipe[(K, Long)] =
    new TypedPipe(keyed.count())

  def max(implicit ord: Ordering[V]): TypedPipe[(K, V)] = reduce(ord.max)
  def min(implicit ord: Ordering[V]): TypedPipe[(K, V)] = reduce(ord.min)

  def toList: TypedPipe[(K, List[V])] = {
    // typed list encoder: the collected column is a Catalyst array
    implicit val le: Encoder[List[V]] = Aggregators.listEncoder[V](vEnc)
    aggregate(new Aggregator[V, List[V], List[V]] {
      def zero: List[V] = Nil
      def reduce(b: List[V], a: V): List[V] = a :: b
      def merge(a: List[V], b: List[V]): List[V] = a ::: b
      def finish(b: List[V]): List[V] = b
      def bufferEncoder: Encoder[List[V]] = le
      def outputEncoder: Encoder[List[V]] = le
    })
  }

  def toSet: TypedPipe[(K, Set[V])] = {
    implicit val se: Encoder[Set[V]] = Encoders.kryo[Set[V]]
    implicit val m: Monoid[Set[V]] = Monoid.setMonoid[V]
    mapValues(Set(_))(se).sum
  }

  /** Per-key bounded top-k (`sortedTake`, ReduceOperations.scala:436):
    * k smallest by `ord`; map-side partial top-k keeps the shuffle at
    * k rows per group per task.
    */
  def sortedTake(k: Int)(implicit ord: Ordering[V],
      ct: ClassTag[V]): TypedPipe[(K, Seq[V])] = {
    // typed array encoder (not kryo): the top-k column stays a
    // Catalyst array, visible to downstream Column ops
    val se: Encoder[Seq[V]] = Aggregators.seqEncoder[V](vEnc)
    aggregate(Aggregators.sortedTake[V](k)(vEnc, ct, ord))(se)
  }

  def sortedReverseTake(k: Int)(implicit ord: Ordering[V],
      ct: ClassTag[V]): TypedPipe[(K, Seq[V])] =
    sortedTake(k)(ord.reverse, ct)

  /** Arbitrary streaming over a group's values, unordered
    * (`mapStream`/`mapGroups`, GroupBuilder.scala:219-228).
    */
  def mapGroup[U: Encoder](f: (K, Iterator[V]) => IterableOnce[U]): TypedPipe[(K, U)] = {
    implicit val ku: Encoder[(K, U)] = Encoders.tuple(kEnc, implicitly[Encoder[U]])
    new TypedPipe(keyed.flatMapGroups { (k, it) =>
      f(k, it.map(_._2)).iterator.map((k, _))
    })
  }

  /** Install a secondary sort on values (reference `sortBy`,
    * GroupBuilder.scala:231-236): order-sensitive ops then run on
    * value-sorted runs without re-shuffling per key. Sorts ascending
    * in the sort key's natural (Spark column) order; use
    * [[SortedGrouped.reverse]] for descending. Custom `Ordering`s are
    * deliberately not accepted — the sort happens in Spark's sort
    * machinery (spillable, not memory-bound), which only understands
    * column order.
    */
  def sortBy[S: Encoder](f: V => S): SortedGrouped[K, V, S] =
    new SortedGrouped(this, f, descending = false)

  // ---- joins (reference typed join/leftJoin/outerJoin,
  // TypedPipe.scala:476-482) ----

  private def pairDf(d: Dataset[_], side: String) = d.toDF("_1", "_2").alias(side)

  def join[W](other: Grouped[K, W]): TypedPipe[(K, (V, W))] = {
    implicit val we: Encoder[W] = other.vEnc
    implicit val out: Encoder[(K, (V, W))] =
      Encoders.tuple(kEnc, Encoders.tuple(vEnc, we))
    new TypedPipe(
      kvs.joinWith(other.kvs, kvs("_1") === other.kvs("_1"), "inner")
        .map { case ((k, v), (_, w)) => (k, (v, w)) })
  }

  def leftJoin[W](other: Grouped[K, W]): TypedPipe[(K, (V, Option[W]))] = {
    implicit val we: Encoder[W] = other.vEnc
    implicit val out: Encoder[(K, (V, Option[W]))] =
      Encoders.tuple(kEnc, Encoders.tuple(vEnc, Encoders.kryo[Option[W]]))
    new TypedPipe(
      kvs.joinWith(other.kvs, kvs("_1") === other.kvs("_1"), "left_outer")
        .map { case ((k, v), r) => (k, (v, Option(r).map(_._2))) })
  }

  def rightJoin[W](other: Grouped[K, W]): TypedPipe[(K, (Option[V], W))] = {
    implicit val we: Encoder[W] = other.vEnc
    implicit val out: Encoder[(K, (Option[V], W))] =
      Encoders.tuple(kEnc, Encoders.tuple(Encoders.kryo[Option[V]], we))
    new TypedPipe(
      kvs.joinWith(other.kvs, kvs("_1") === other.kvs("_1"), "right_outer")
        .map { case (l, (k, w)) => (k, (Option(l).map(_._2), w)) })
  }

  def outerJoin[W](other: Grouped[K, W]): TypedPipe[(K, (Option[V], Option[W]))] = {
    implicit val we: Encoder[W] = other.vEnc
    implicit val out: Encoder[(K, (Option[V], Option[W]))] =
      Encoders.tuple(kEnc,
        Encoders.tuple(Encoders.kryo[Option[V]], Encoders.kryo[Option[W]]))
    new TypedPipe(
      kvs.joinWith(other.kvs, kvs("_1") === other.kvs("_1"), "full_outer")
        .map { case (l, r) =>
          val k = if (l != null) l._1 else r._1
          (k, (Option(l).map(_._2), Option(r).map(_._2)))
        })
  }

  /** Broadcast join with a small right side (typed `hashJoin`,
    * TypedPipe.scala:484-497).
    */
  def hashJoin[W](small: Grouped[K, W]): TypedPipe[(K, (V, W))] = {
    implicit val we: Encoder[W] = small.vEnc
    implicit val out: Encoder[(K, (V, W))] =
      Encoders.tuple(kEnc, Encoders.tuple(vEnc, we))
    new TypedPipe(
      kvs.joinWith(F.broadcast(small.kvs), kvs("_1") === small.kvs("_1"), "inner")
        .map { case ((k, v), (_, w)) => (k, (v, w)) })
  }

  /** Full cogroup with joiner closure (reference `cogroup`,
    * CoGrouped2.scala:95-175).
    */
  def cogroup[W, R: Encoder](other: Grouped[K, W])(
      f: (K, Iterator[V], Iterable[W]) => IterableOnce[R]): TypedPipe[(K, R)] = {
    implicit val ku: Encoder[(K, R)] = Encoders.tuple(kEnc, implicitly[Encoder[R]])
    val out = keyed.cogroup(other.kvs.groupByKey(_._1)) { (k, ls, rs) =>
      f(k, ls.map(_._2), rs.map(_._2).toList).iterator.map((k, _))
    }
    new TypedPipe(out)
  }

  def withReducers(n: Int): Grouped[K, V] =
    new Grouped(kvs.repartition(n, kvs("_1")))
}

/** Value-sorted group view: the reference guarantees secondary-sorted
  * iteration for foldLeft/scanLeft/take/mapStream after `sortBy`
  * (GroupBuilder.scala:279-287). Spark's `flatMapGroups` iterators are
  * unordered, so this plants the canonical
  * `repartition(key).sortWithinPartitions(key, sortKey)` +
  * `mapPartitions` run-grouping pattern — one shuffle, values arrive
  * sorted within each key run, no per-key memory needed beyond the
  * operator's own state.
  */
final class SortedGrouped[K, V, S](g: Grouped[K, V], sortFn: V => S,
    descending: Boolean)(
    implicit sEnc: Encoder[S]) extends Serializable {

  import g.{kEnc, vEnc, kvEnc}

  /** Descending value order (reference `sortBy(f).reverse`,
    * GroupBuilder.scala:308-318).
    */
  def reverse: SortedGrouped[K, V, S] =
    new SortedGrouped(g, sortFn, !descending)

  /** Sorted runs: one shuffle by key, values sorted within key. */
  private def sortedRuns: Dataset[(K, S, V)] = {
    implicit val ksv: Encoder[(K, S, V)] = Encoders.tuple(kEnc, sEnc, vEnc)
    val sortKey = {
      val c = org.apache.spark.sql.functions.col("_2")
      if (descending) c.desc else c.asc
    }
    g.kvs.map { case (k, v) => (k, sortFn(v), v) }
      .repartition(org.apache.spark.sql.functions.col("_1"))
      .sortWithinPartitions(org.apache.spark.sql.functions.col("_1"), sortKey)
  }

  /** Stream each key's values in sort order through `f`. */
  def mapValueStream[U: Encoder](f: (K, Iterator[V]) => IterableOnce[U]): TypedPipe[(K, U)] = {
    implicit val ku: Encoder[(K, U)] = Encoders.tuple(kEnc, implicitly[Encoder[U]])
    val runs = sortedRuns
    new TypedPipe(runs.mapPartitions { it =>
      new GroupRunIterator[(K, S, V)](it, _._1).flatMap { case (kAny, group) =>
        val k = kAny.asInstanceOf[K]
        f(k, group.map(_._3)).iterator.map((k, _))
      }
    })
  }

  /** Non-commutative ordered fold (GroupBuilder.foldLeft:154-161). */
  def foldLeft[U: Encoder](init: U)(fn: (U, V) => U): TypedPipe[(K, U)] =
    mapValueStream[U]((_, vs) => Iterator.single(vs.foldLeft(init)(fn)))

  /** Running accumulation emitting every prefix (scanLeft,
    * StreamOperations.scala:69-75).
    */
  def scanLeft[U: Encoder](init: U)(fn: (U, V) => U): TypedPipe[(K, U)] =
    mapValueStream[U]((_, vs) => vs.scanLeft(init)(fn).drop(1))

  def take(n: Int): TypedPipe[(K, V)] =
    mapValueStream[V]((_, vs) => vs.take(n))(vEnc)

  def drop(n: Int): TypedPipe[(K, V)] =
    mapValueStream[V]((_, vs) => vs.drop(n))(vEnc)

  def takeWhile(p: V => Boolean): TypedPipe[(K, V)] =
    mapValueStream[V]((_, vs) => vs.takeWhile(p))(vEnc)

  def dropWhile(p: V => Boolean): TypedPipe[(K, V)] =
    mapValueStream[V]((_, vs) => vs.dropWhile(p))(vEnc)

  def head: TypedPipe[(K, V)] = take(1)
}

/** Groups consecutive rows sharing a key into (key, run-iterator)
  * pairs. Input must already be clustered by key (one shuffle +
  * intra-partition sort upstream). Lazy: the group iterator must be
  * consumed before advancing — mapValueStream's contract.
  */
private[graft] final class GroupRunIterator[T](it: Iterator[T], keyOf: T => Any)
    extends Iterator[(Any, Iterator[T])] {
  private val buf = it.buffered
  private var current: Iterator[T] = Iterator.empty

  def hasNext: Boolean = {
    while (current.hasNext) current.next() // drain any unconsumed tail
    buf.hasNext
  }

  def next(): (Any, Iterator[T]) = {
    if (!hasNext) throw new NoSuchElementException("empty group iterator")
    val k = keyOf(buf.head)
    val group = new Iterator[T] {
      def hasNext: Boolean = buf.hasNext && keyOf(buf.head) == k
      def next(): T = buf.next()
    }
    current = group
    (k, group)
  }
}
