package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import graft.core.GraftSession

/** Structured-Streaming surface. The reference is strictly batch
  * (SURVEY §2.8): its incremental idioms are time-partitioned inputs,
  * `Job.next` iteration, and monoid-merged stores. This module is the
  * Spark-native upgrade of those idioms — the same logical operations
  * as unbounded streams with watermarks and managed state.
  */
object Streaming {

  /** Tumbling-window aggregation (the streaming form of the batch
    * time-bucket groupBy): count + sum per (window, key) with a
    * watermark bounding state.
    */
  def tumblingAgg(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, windowLen: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_value"))

  /** Sliding-window aggregation: windows of `windowLen` advancing by
    * `slide` (each event lands in windowLen/slide windows).
    */
  def slidingAgg(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, windowLen: String, slide: String,
      watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_value"))

  /** Streaming exact dedup: drop rows whose `keyCols` were already
    * seen within the watermark horizon — the unbounded form of the
    * batch fingerprint dedup, with state bounded by the watermark.
    */
  def dedupStream(events: DataFrame, tsCol: String, watermark: String,
      keyCols: String*): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.toSeq)

  /** Stream-stream event-time interval join: match left and right
    * rows with equal `keyCol` whose right timestamp lies within
    * [leftTs - maxDelay, leftTs]. The watermarks plus the time-range
    * condition let Spark prune both state stores — state is bounded by
    * (watermark + maxDelay), never unbounded. The streaming
    * counterpart of the batch as-of/range joins (a streaming join
    * without a time bound would accumulate state forever; Spark
    * rejects unbounded outer variants outright).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String, watermark: String, maxDelay: String,
      how: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r,
      expr(s"l.$keyCol = r.$keyCol AND " +
        s"r.$rightTs >= l.$leftTs - interval '$maxDelay' AND " +
        s"r.$rightTs <= l.$leftTs"),
      how)
  }

  /** Stream-static enrichment: join a stream against a slowly-changing
    * dimension, broadcast so the streaming side never shuffles. The
    * static side is re-read per micro-batch, so an updated dimension
    * table is picked up without restarting the query.
    */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String],
      how: String = "left"): DataFrame =
    stream.join(broadcast(dim), keys, how)

  /** Incremental monoid merge into a keyed store — the streaming form
    * of `writeIncremental` (VersionedKeyValSource.scala:163-210):
    * each micro-batch is monoid-merged into the versioned store.
    */
  def incrementalMerge(deltas: DataFrame, store: graft.sources.VersionedKeyValStore,
      mergeAgg: Option[Column] = None): StreamingQuery =
    deltas.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) { store.writeIncremental(batch, mergeAgg); () }
      }
      .start()

  /** Streaming distribution-drift monitor: every micro-batch's bucket
    * counts (frozen `cuts`, [[graft.ml.Profile.driftReport]]'s rule)
    * are monoid-merged into the versioned store under key = bucket,
    * so the store always holds the RUNNING ingest distribution; after
    * each merge, `onDrift` receives the one-row PSI/KL/TVD summary of
    * running-vs-baseline — the alert hook a production feed wires to
    * paging. Baseline bucket counts are computed once up front
    * (bounded: |cuts|+1 rows, kept on the driver); per batch the work
    * is one codegen'd bucket aggregate + a tiny-table drift formula —
    * no state beyond the store, any corpus size.
    */
  def driftMonitor(values: DataFrame, valueCol: String,
      baseline: DataFrame, cuts: Seq[Double],
      store: graft.sources.VersionedKeyValStore,
      smoothing: Double = 0.5)(
      onDrift: (Long, Double, Double, Double) => Unit): StreamingQuery = {
    require(cuts.nonEmpty && cuts == cuts.sorted,
      "cuts must be non-empty and ascending")
    val spark = baseline.sparkSession
    import spark.implicits._
    val baseCounts = graft.ml.Profile
      .bucketCounts(baseline, valueCol, cuts)
      .as[(Long, Long)].collect().toSeq
    values.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          store.writeIncremental(
            graft.ml.Profile.bucketCounts(batch, valueCol, cuts)
              .select(col("bucket").as("key"), col("n").as("value")))
          val running = store.read(batch.sparkSession)
            .select(col("key").as("bucket"), col("value").as("n"))
          val row = graft.ml.Profile.driftFromCounts(
            baseCounts.toDF("bucket", "n"), running,
            cuts.size + 1, smoothing)
            .agg(sum("psi_term").as("psi"), sum("kl_term").as("kl"),
              sum("tv_term").as("tvd")).head()
          onDrift(batchId, row.getAs[Double]("psi"),
            row.getAs[Double]("kl"), row.getAs[Double]("tvd"))
        }
      }
      .start()
  }

  /** Streaming always-valid experiment monitor: per batch, each
    * user's (entered, converted) flags merge into the versioned store
    * under the bitmask-max monoid (value 1 = entered, 3 = entered +
    * converted) — a user active across many batches counts ONCE, and
    * late conversions upgrade the flag. The per-arm cumulative counts
    * then feed [[graft.events.Events.msprtLogLambda]] (the same
    * kernel the batch [[graft.events.Events.sequentialTest]] compiles
    * into Columns), and the always-valid p-value is the running min
    * per arm across batches. `onResult(batchId, variant, nT, convT,
    * nC, convC, logLambda, pValue)` fires per treatment arm per
    * batch.
    *
    * State = one row per (variant, user) in the store — the keyed
    * first-touch state a production experiment pipeline keeps anyway;
    * everything else is a per-batch hash aggregate.
    */
  def sequentialMonitor(events: DataFrame, userCol: String,
      variantCol: String, typeCol: String, convType: String,
      controlVariant: String,
      store: graft.sources.VersionedKeyValStore, tau2: Double = 0.0001)(
      onResult: (Long, String, Long, Long, Long, Long, Option[Double],
        Double) => Unit): StreamingQuery = {
    val runningP = scala.collection.mutable.Map.empty[String, Double]
    events.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val delta = batch
            .groupBy(col(userCol).cast("string").as("user"),
              col(variantCol).cast("string").as("variant"))
            .agg(max(when(col(typeCol) === convType, 2).otherwise(0))
              .as("conv"))
            .select(
              concat_ws("\u0001", col("variant"), col("user"))
                .as(store.keyCol),
              (col("conv") + 1).cast("long").as(store.valCol))
          store.writeIncremental(delta,
            Some(max(col(store.valCol)).as(store.valCol)))
          val arms = store.read(batch.sparkSession)
            .select(split(col(store.keyCol), "\u0001").getItem(0)
              .as("variant"), col(store.valCol).as("flags"))
            .groupBy("variant")
            .agg(count(lit(1)).as("n"),
              sum(when(col("flags") >= 3, 1).otherwise(0)).as("c"))
            .collect()
            .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
            .toMap
          arms.get(controlVariant).foreach { case (nC, cC) =>
            arms.toSeq.sortBy(_._1).foreach {
              case (v, (nT, cT)) if v != controlVariant =>
                val ll = graft.events.Events
                  .msprtLogLambda(cT, nT, cC, nC, tau2)
                val pNow = ll.map(l => math.min(1.0, math.exp(-l)))
                  .getOrElse(1.0)
                val p = math.min(runningP.getOrElse(v, 1.0), pNow)
                runningP(v) = p
                onResult(batchId, v, nT, cT, nC, cC, ll, p)
              case _ => ()
            }
          }
        }
      }
      .start()
  }

  /** Streaming SCD2 maintenance: each micro-batch of attribute
    * observations merges into a versioned SCD2 parquet history via
    * [[graft.sources.Scd2.applyDelta]] — late/out-of-order
    * observations split intervals correctly because the merge
    * re-derives each key's history. Each batch writes a NEW version
    * directory (same success-file protocol as the versioned KV
    * store), so readers always see a complete snapshot and `asOf`
    * time travel works over the latest.
    */
  def scd2Stream(observations: DataFrame, dir: String,
      keyCols: Seq[String], attrCols: Seq[String],
      tsCol: String): StreamingQuery =
    observations.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val fs = org.apache.hadoop.fs.FileSystem.get(
            spark.sparkContext.hadoopConfiguration)
          val versions = {
            val p = new org.apache.hadoop.fs.Path(dir)
            if (!fs.exists(p)) Seq.empty
            else fs.listStatus(p).toSeq
              .map(_.getPath.getName).filter(_.startsWith("v"))
              .flatMap(n => scala.util.Try(n.drop(1).toLong).toOption)
              .sorted
          }
          val merged = versions.lastOption match {
            case Some(v) =>
              graft.sources.Scd2.applyDelta(
                GraftSession.readParquet(spark, s"$dir/v$v"), batch,
                keyCols, attrCols, tsCol)
            case None =>
              graft.sources.Scd2.fromEvents(batch, keyCols, attrCols, tsCol)
          }
          val next = versions.lastOption.map(_ + 1).getOrElse(0L)
          merged.write.mode("overwrite").parquet(s"$dir/v$next")
          ()
        }
      }
      .start()

  /** Streaming trending maintenance — the incremental form of
    * [[graft.events.Events.trending]]: each micro-batch's
    * (window, type) counts monoid-merge into the versioned store
    * (key = "win|type", value = count), so the store always holds
    * exact per-window totals across any batch arrival order
    * (late/out-of-order events just add to their window's count);
    * after each merge `onBatch` receives the store-wide top-`k` per
    * window. Per batch: one bucket aggregate + the store's keyed
    * merge + a bounded top-k read.
    */
  def trendingStream(events: DataFrame, secCol: String, typeCol: String,
      windowSec: Long, k: Int,
      store: graft.sources.VersionedKeyValStore)(
      onBatch: (Long, Seq[(Long, String, Long, Long)]) => Unit)
      : StreamingQuery = {
    require(windowSec > 0 && k > 0, "windowSec and k must be positive")
    events.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          import spark.implicits._
          val counts = batch
            .select(col(secCol).cast("long").as("__sec"),
              col(typeCol).cast("string").as("etype"))
            .select(expr(s"__sec div ${windowSec}L").as("win"), col("etype"))
            .groupBy("win", "etype").agg(count(lit(1)).as("value"))
            .select(concat_ws("|", col("win"), col("etype")).as("key"),
              col("value"))
          store.writeIncremental(counts)
          val top = store.read(spark)
            .select(split(col("key"), "\\|").as("kv"), col("value"))
            .select(element_at(col("kv"), 1).cast("long").as("win"),
              element_at(col("kv"), 2).as("etype"),
              col("value").cast("long").as("n"))
            .withColumn("rank", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy("win")
                .orderBy(col("n").desc, col("etype"))).cast("long"))
            .filter(col("rank") <= k)
            .as[(Long, String, Long, Long)]
            .collect().sortBy(t => (t._1, t._4)).toSeq
          onBatch(batchId, top)
        }
      }
      .start()
  }

  /** Streaming heavy-hitter maintenance: each micro-batch folds into a
    * batch-local Misra-Gries sketch (one bounded row per batch — the
    * sketch aggregation itself runs with map-side partials), which is
    * then monoid-merged into the versioned store under the sketch
    * merge aggregate. Unbounded vocabulary, O(k) state, and the
    * undercount stays <= total/(k+1) across any number of batches —
    * the streaming form of the reference's monoid `writeIncremental`
    * idiom with a sketch algebra instead of numeric sum.
    */
  def incrementalFreqSketch(tokens: Dataset[String],
      store: graft.sources.VersionedKeyValStore, k: Int): StreamingQuery =
    tokens.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[String], _: Long) =>
        if (!batch.isEmpty) {
          import graft.agg.FreqSketch
          val sk = batch.select(FreqSketch.aggregator(k).toColumn).head()
          val spark = batch.sparkSession
          import spark.implicits._
          val delta = Seq(("vocab", FreqSketch.toBytes(sk)))
            .toDF(store.keyCol, store.valCol)
          store.writeIncremental(delta,
            Some(FreqSketch.mergeBytesUdaf(k)(col(store.valCol)).as(store.valCol)))
          ()
        }
      }
      .start()

  /** Streaming per-key distinct maintenance: each micro-batch folds
    * (key, value) pairs into per-key HLL sketches (one bounded row
    * per key per batch), merged into the versioned store under the
    * register-max monoid. The streaming "daily uniques per domain"
    * query in O(2^p) state per key, exact-input-order independent.
    */
  def incrementalDistinct(pairs: Dataset[(String, String)],
      store: graft.sources.VersionedKeyValStore,
      err: Double = 0.01): StreamingQuery =
    pairs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[(String, String)], _: Long) =>
        if (!batch.isEmpty) {
          import graft.agg.Hll
          val spark = batch.sparkSession
          import spark.implicits._
          val delta = batch
            .groupByKey(_._1)
            .mapValues(_._2)
            .agg(Hll.aggregator(err).toColumn.name("sketch"))
            .map { case (k, h) => (k, Hll.toBytes(h)) }
            .toDF(store.keyCol, store.valCol)
          store.writeIncremental(delta,
            Some(Hll.mergeBytesUdaf(err)(col(store.valCol)).as(store.valCol)))
          ()
        }
      }
      .start()

  /** Streaming per-key quantile maintenance: each micro-batch folds
    * (key, value) pairs into per-key deterministic-KLL sketches
    * ([[graft.agg.Qsketch]], one bounded row per key per batch),
    * merged into the versioned store under the compactor monoid. The
    * streaming "latency distribution per endpoint" / "doc-length
    * distribution per domain" query in O(k·log n) state per key —
    * order statistics that `approx_percentile` cannot carry across
    * batches.
    */
  def incrementalQuantiles(pairs: Dataset[(String, Double)],
      store: graft.sources.VersionedKeyValStore,
      k: Int = 200): StreamingQuery =
    pairs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[(String, Double)], _: Long) =>
        if (!batch.isEmpty) {
          import graft.agg.Qsketch
          val spark = batch.sparkSession
          import spark.implicits._
          val delta = batch
            .groupByKey(_._1)
            .mapValues(_._2)
            .agg(Qsketch.aggregator(k).toColumn.name("sketch"))
            .map { case (key, q) => (key, Qsketch.toBytes(q)) }
            .toDF(store.keyCol, store.valCol)
          store.writeIncremental(delta,
            Some(Qsketch.mergeBytesUdaf(k)(col(store.valCol)).as(store.valCol)))
          ()
        }
      }
      .start()

  /** Streaming corpus ingestion — the streaming form of
    * examples.CorpusPrepJob: each micro-batch of raw (doc_id, text)
    * is quality/language filtered, exact-deduped within the batch,
    * near-dup-deduped against the durable MinHash signature store
    * (and against earlier docs in the same batch), and only then
    * appended to the corpus; accepted signatures append to the store
    * so later batches (and later runs — the store is the state, not
    * the streaming checkpoint) dedup against everything ever
    * accepted. Per batch the cost is linear in the DELTA plus the
    * band-bucket join against the store — the corpus itself is never
    * re-read.
    */
  def corpusIngest(docs: DataFrame, sigDir: String, corpusDir: String,
      lang: String, minQuality: Double, threshold: Double = 0.7): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import graft.ml.{Dedup, TextAnalysis => TA}
        val spark = batch.sparkSession
        // 1. annotate + filter (pure columns — scan-speed)
        val clean = batch
          .filter(TA.langId(col("text")) === lang &&
            TA.qualityScore(col("text")) >= minQuality)
        // 2. exact dedup within the batch: min id per content hash
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(TA.fingerprint(col("text")))
        val exact = clean
          .withColumn("__minId", min(col("doc_id")).over(w))
          .filter(col("doc_id") === col("__minId")).drop("__minId")
          .persist()
        val store =
          try GraftSession.readParquet(spark, sigDir)
          catch { case _: org.apache.spark.sql.AnalysisException =>
            Dedup.buildSignatureStore(exact.limit(0), "doc_id", "text")
          }
        // 3. near-dup dedup vs store + within batch: drop a new doc if
        // it matches an accepted (old) doc, or a smaller-id batch doc
        val pairs = Dedup.incrementalNearDuplicates(
          exact, store, "doc_id", "text", threshold)
        val ids = exact.select(col("doc_id").as("__bid"))
        val drops = pairs
          .join(ids.as("b1"), col("id1") === col("__bid"), "left")
          .withColumnRenamed("__bid", "__new1")
          .join(ids.as("b2"), col("id2") === col("__bid"), "left")
          .withColumnRenamed("__bid", "__new2")
          .select(
            // old×new → drop the new side; new×new → drop the greater
            when(col("__new1").isNull, col("id2"))
              .when(col("__new2").isNull, col("id1"))
              .otherwise(col("id2")).as("doc_id"))
          .distinct()
        val accepted = exact.join(drops, Seq("doc_id"), "left_anti").persist()
        // 4. append corpus + advance the signature store
        accepted.write.mode("append").parquet(corpusDir)
        Dedup.buildSignatureStore(accepted, "doc_id", "text")
          .write.mode("append").parquet(sigDir)
        accepted.unpersist(blocking = false)
        exact.unpersist(blocking = false)
        graft.core.PipelineCaches.unpersistAll()
        ()
      }
      .start()

  /** Streaming IVF-PQ index maintenance — the streaming form of
    * [[graft.ml.Pq.appendToIndex]]: each micro-batch of (id, vec) is
    * id-deduped within the batch, anti-joined against the ids already
    * in the stored index (a column-pruned scan of the id column
    * only), residual-encoded against the FROZEN centroid table and
    * codebooks, and appended to the index lists. Per batch the cost
    * is linear in the delta plus the pruned id probe; centroids and
    * codebooks never retrain mid-stream (rebuild the index to retrain
    * — the versioned-store pattern, not the checkpoint, is the
    * state).
    */
  def vectorIngest(vecs: DataFrame, centroids: DataFrame,
      codebookBytes: Array[Byte], indexDir: String): StreamingQuery = {
    val cb = graft.ml.Pq.codebooksFromBytes(codebookBytes)
    vecs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("id")).orderBy(col("id"))
        val inBatch = batch.select(col("id"), col("vec"))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        val existing =
          try GraftSession.readParquet(spark, indexDir).select(col("id"))
          catch { case _: org.apache.spark.sql.AnalysisException =>
            inBatch.select(col("id")).limit(0)
          }
        val fresh = inBatch.join(existing, Seq("id"), "left_anti")
        graft.ml.Pq.appendToIndex(fresh, centroids, cb)
          .write.mode("append").parquet(indexDir)
        ()
      }
      .start()
  }

  /** Tagged union row for the stream-stream as-of join; `ts` carries
    * the event-time watermark through the union.
    */
  case class AsOfEvent(key: Long, ts: java.sql.Timestamp, isLeft: Boolean,
      value: Double)
  /** One joined output row: the left event plus the latest right event
    * at-or-before it within the lookback (None = no match ⇒ left-outer
    * semantics).
    */
  case class AsOfMatch(key: Long, sec: Long, value: Double,
      rightSec: Option[Long], rightValue: Option[Double])
  /** Per-key buffers: lefts awaiting the watermark, rights within the
    * lookback horizon. Both (sec, value) pairs.
    */
  case class AsOfBuffers(lefts: Seq[(Long, Double)], rights: Seq[(Long, Double)])

  /** Stream-stream AS-OF join — attach to each left event the LATEST
    * right event with the same key and `rightTs <= leftTs`, looking
    * back at most `lookbackSec`. The batch operator's streaming
    * counterpart (`Joins.asofJoin` / native `AsOfJoinExec`), and the
    * one join Structured Streaming cannot express relationally: the
    * interval join returns ALL rights in the window, not the single
    * latest, and "latest" is not monotone under out-of-order arrival.
    *
    * Mechanics: both sides are tagged and unioned into one keyed
    * stream; per-key state buffers events; a left row is emitted only
    * once the watermark passes its event time — at that point every
    * non-late right row at-or-before it has arrived, so "latest ≤ ts"
    * is final (the same allowed-lateness contract as every watermarked
    * op). An event-time timeout re-invokes the group when the
    * watermark passes the earliest pending left, so quiet keys still
    * flush. State is bounded: pending lefts sit above the watermark
    * and rights prune to the lookback window below it — at 1000
    * executors this is one hash exchange of each stream and O(active
    * keys × window) state, the same envelope as Spark's own
    * stream-stream interval join.
    */
  def asofJoinStream(left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, leftVal: String, rightTs: String, rightVal: String,
      watermark: String, lookbackSec: Long): Dataset[AsOfMatch] = {
    val session = left.sparkSession
    import session.implicits._
    def tag(df: DataFrame, ts: String, v: String, isLeft: Boolean) =
      df.select(col(keyCol).cast("long").as("key"), col(ts).as("ts"),
          lit(isLeft).as("isLeft"), col(v).cast("double").as("value"))
        .withWatermark("ts", watermark)
        .as[AsOfEvent]
    tag(left, leftTs, leftVal, isLeft = true)
      .unionByName(tag(right, rightTs, rightVal, isLeft = false))
      .groupByKey(_.key)
      .flatMapGroupsWithState[AsOfBuffers, AsOfMatch](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, rows: Iterator[AsOfEvent], state: GroupState[AsOfBuffers]) =>
          val wmSec = state.getCurrentWatermarkMs() / 1000
          val st = state.getOption.getOrElse(AsOfBuffers(Nil, Nil))
          val incoming = rows.toVector
          def sec(e: AsOfEvent): Long = e.ts.getTime / 1000
          val lefts = st.lefts ++
            incoming.filter(_.isLeft).map(e => (sec(e), e.value))
          val rights = (st.rights ++
            incoming.filterNot(_.isLeft).map(e => (sec(e), e.value)))
            .sortBy(_._1)
          // finalize lefts the watermark has passed: all non-late
          // rights ≤ their ts have arrived
          val (ready, pending) = lefts.partition(_._1 <= wmSec)
          val out = ready.sortBy(_._1).map { case (ls, lv) =>
            val m = rights.filter(r => r._1 <= ls && ls - r._1 <= lookbackSec)
              .lastOption
            AsOfMatch(key, ls, lv, m.map(_._1), m.map(_._2))
          }
          // rights at or below (wm - lookback) can never match again:
          // every remaining/future left has sec > wm
          val keptRights = rights.filter(_._1 > wmSec - lookbackSec)
          if (pending.isEmpty && keptRights.isEmpty) state.remove()
          else {
            state.update(AsOfBuffers(pending, keptRights))
            // wake this key when the watermark passes its next deadline
            // (earliest pending left, or the last right's expiry);
            // timeouts must be set strictly beyond the current watermark
            val deadline =
              if (pending.nonEmpty) pending.map(_._1).min * 1000
              else (keptRights.map(_._1).max + lookbackSec) * 1000
            state.setTimeoutTimestamp(math.max(deadline, wmSec * 1000 + 1))
          }
          out.iterator
      }
  }

  /** Streaming funnel state: events buffered above the watermark plus
    * the greedy progression (reached steps, last matched time, window
    * deadline).
    */
  case class FunnelState(pending: Seq[(Long, Int)], reached: Int,
      prevT: Long, deadline: Long)
  /** One funnel advance: `key` reached `step` (1-based) at `sec`. */
  case class FunnelProgress(key: Long, step: Int, sec: Long)

  /** Streaming form of `graft.events.Events.funnel`: per-key greedy
    * ordered-step matching with a window anchored at step 1, emitting
    * a [[FunnelProgress]] row the moment each step is reached. Events
    * buffer in keyed state until the watermark passes them (so
    * out-of-order arrival within the allowed lateness matches exactly
    * like the batch operator: the pass over ready events repeatedly
    * takes the earliest occurrence of the NEXT needed step at-or-after
    * the previous step's time); event-time timeouts flush quiet keys.
    * State is bounded by the watermark: processed events are dropped,
    * only above-watermark events and the O(1) progression survive.
    */
  def funnelStream(events: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, steps: Seq[String], windowSec: Long,
      watermark: String): Dataset[FunnelProgress] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val session = events.sparkSession
    import session.implicits._
    val nSteps = steps.length
    // tag the step index with Column expressions — a typed flatMap
    // would rebuild the row and drop the event-time watermark tag
    val stepCol = steps.zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (acc, (name, i)) => when(col("tp") === name, lit(i)).otherwise(acc)
    }
    events
      .select(col(keyCol).cast("long").as("key"), col(tsCol).as("ts"),
        col(typeCol).cast("string").as("tp"))
      .select(col("key"), col("ts"), stepCol.as("step"))
      .filter(col("step").isNotNull)
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key, rows, state) =>
          val wmSec = state.getCurrentWatermarkMs() / 1000
          val st0 = state.getOption.getOrElse(
            FunnelState(Nil, 0, Long.MinValue, Long.MaxValue))
          val all = st0.pending ++
            rows.map { case (_, ts, i) => (ts.getTime / 1000, i) }
          val (ready, pending) = all.partition(_._1 <= wmSec)
          var reached = st0.reached
          var prevT = st0.prevT
          var deadline = st0.deadline
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelProgress]
          var advancing = reached < nSteps
          while (advancing) {
            // earliest ready occurrence of the next needed step within
            // [prevT, deadline] — chained-min, exactly the batch rule
            val cands = ready.filter { case (sec, i) =>
              i == reached && sec >= prevT && sec <= deadline
            }
            if (cands.isEmpty) advancing = false
            else {
              val sec = cands.map(_._1).min
              reached += 1
              prevT = sec
              if (reached == 1 && windowSec > 0) deadline = sec + windowSec
              out += FunnelProgress(key, reached, sec)
              advancing = reached < nSteps
            }
          }
          // processed (ready) events are dropped: a future match needs
          // sec >= prevT, and a needed-step event below the watermark
          // would be beyond allowed lateness anyway — state holds only
          // above-watermark events plus the O(1) progression
          if (pending.isEmpty && reached == 0) state.remove()
          else {
            state.update(FunnelState(pending, reached, prevT, deadline))
            if (pending.nonEmpty)
              state.setTimeoutTimestamp(
                math.max(pending.map(_._1).min * 1000, wmSec * 1000 + 1))
          }
          out.iterator
      }
  }

  /** Per-key session state for gap-based sessionization. */
  case class SessionState(sessionId: Long, lastSec: Long)
  case class SessionEvent(key: Long, sec: Long)
  case class SessionAssignment(key: Long, sec: Long, sessionId: Long)

  /** Stateful gap sessionization via mapGroupsWithState — the
    * streaming form of the batch native `SessionizeExec`, driven by
    * the SAME state machine ([[graft.core.SessionGap]]): both forms
    * execute one shared (state, event) → state transition, so the
    * batch/streaming cross-check in the test suite is structural,
    * not coincidental. Assigns monotone per-key session ids with a
    * `gapSeconds` gap rule.
    */
  def sessionize(events: Dataset[SessionEvent], gapSeconds: Long)(
      implicit e: Encoder[SessionAssignment],
      se: Encoder[SessionState]): Dataset[SessionAssignment] = {
    import events.sparkSession.implicits._
    import graft.core.SessionGap
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[SessionState, SessionAssignment](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          // rehydrate the kernel state from the checkpointable form
          // (lastSec == Long.MinValue is the not-started sentinel)
          var st = state.getOption match {
            case Some(SessionState(sid, last)) if last != Long.MinValue =>
              SessionGap.State(sid, last, lastNull = false, started = true)
            case _ => SessionGap.empty
          }
          val out = rows.toSeq.sortBy(_.sec).map { ev =>
            st = SessionGap.advance(st, ev.sec, secNull = false, gapSeconds)
            SessionAssignment(key, ev.sec, st.sessionId)
          }
          state.update(SessionState(st.sessionId,
            if (st.started) st.lastSec else Long.MinValue))
          out.iterator
      }
  }
}
