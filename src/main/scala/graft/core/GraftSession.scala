package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Session factory with the scale-oriented defaults this engine assumes.
  *
  * Mirrors the reference's tuning surface (scalding `Job.config`,
  * reference `Job.scala:132-156`) but delegates everything it can to
  * Catalyst/AQE: adaptive execution replaces manual reducer counts
  * (`GroupBuilder.scala:88-93`), AQE skew-join replaces
  * `skewJoinWithSmaller` sampling (`JoinAlgorithms.scala:365-458`).
  */
object GraftSession {

  /** Build a local session for tests/benchmarks. On a real cluster the
    * same confs apply; only `master` changes.
    */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    configure(SparkSession.builder().master(s"local[$cores]"), cores).getOrCreate()

  /** Cores of a command-line run (Bench, Verify, the tools). */
  def mainCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
  /** The session of a command-line run, logging at WARN. */
  def forMain(): SparkSession = {
    val spark = local(mainCores)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // the engine's Catalyst surface: injected SQL functions
      // (vec_dot/vec_cosine), optimizer rules, and the native as-of
      // join strategy all register through this extension
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // prefer shuffled-hash over sort-merge when the planner can
      // prove a per-partition build side fits (guide §3.1/§9: SMJ
      // pays two full sorts for no benefit there; SHJ spills via the
      // same unified memory manager). The size conditions still gate
      // it, so large-×-large joins keep sort-merge — scale-safe, not
      // a local[32] tune. AQE additionally rewrites SMJ→SHJ at
      // runtime when every post-shuffle partition is under 64 MB.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        "67108864")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // runtime row-level filtering: a selective dimension filter
      // becomes a bloom filter pushed into the fact-table scan before
      // the shuffle — at 100 TB this is the difference between
      // shuffling the whole fact table and shuffling the ~matching
      // rows. (Size thresholds still gate activation per query.)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // MIN/MAX/COUNT over parquet without filters answer from footer
      // metadata — a stats query over a 100 TB table becomes a
      // metadata-only job
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // ObjectHashAggregate (collect_list / collect_set / typed
      // buffers) abandons its hash map for sort-based aggregation
      // after only 128 distinct keys per task (Spark's conservative
      // default) — measured in r11 as numTasksFallBacked=ALL on every
      // adjacency/basket collect in the repo, turning each into a
      // full per-task sort. 64k keys × bounded buffers is well inside
      // executor memory at any scale (the fallback still protects
      // pathological key counts beyond it); tunable via
      // SPARK_GRAFT_OBJ_AGG_KEYS for constrained executors.
      // MEMORY ENVELOPE ASSUMPTION (ADVICE r11): the raised threshold
      // multiplies the buffers a task holds before the sort fallback,
      // so collect_list/collect_set call sites must bound their
      // per-key buffer — and in this repo they do: baskets/groups via
      // maxBasketSize/maxGroupSize (Associations, coOccurrenceEdges),
      // adjacency via the O(√m) orientation bound (triangleCounts) or
      // maxDegree (linkPrediction), per-doc token arrays by document
      // size. A new UNBOUNDED collect site must either cap its key's
      // buffer or run with SPARK_GRAFT_OBJ_AGG_KEYS lowered.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        sys.env.getOrElse("SPARK_GRAFT_OBJ_AGG_KEYS", "65536"))
      // Java wraparound integer semantics — required by the hash
      // arithmetic in MinHash signatures and matching the reference's
      // JVM behavior (scalding had no ANSI overflow checks).
      .config("spark.sql.ansi.enabled", "false")
      // If a parquet column is TIMESTAMP(NANOS) — which Spark has no
      // timestamp type for — read it as an epoch-nano long instead of
      // failing the scan. Micro/milli timestamps are unaffected (read
      // natively as TIMESTAMP); graft.core.Ts.seconds normalizes either
      // representation, so the engine tolerates the writer changing
      // timestamp precision between data drops.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Janino compiles each stage's generated Java into one JVM-wide
      // class cache, which Spark caps at 100 entries; a pass whose
      // working set is larger recompiles what the pass before evicted.
      // Measured working sets (distinct generated classes a pass): the
      // benchmark's short_ops 112 and pipeline_jobs 97; one pass of
      // Bench's 159-query list 2718 at sf0.001 and 2729 at sf0.01. A
      // sf0.01 pass after a sf0.001 warm-up (Bench's shape) compiled
      // 4188 classes at 100 entries and 198 at 4096. A cached class
      // holds ~8 KB of metaspace and its ~10 KB source as the key, so
      // 4096 entries cost at most ~34 MB metaspace and ~40 MB heap.
      // Static: read once, at the JVM's first codegen, which this
      // session factory precedes.
      .config("spark.sql.codegen.cache.maxEntries", "4096")

  /** Read one of the star-schema tables from a scale-factor directory. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    readParquet(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(path)` without re-inferring a schema it has
    * already seen. Spark infers a parquet schema with a Spark job on
    * every read, even of one unchanged file; a scalding `Source` carries
    * its scheme (reference `Source.scala:81-194`), so building a flow
    * never reads data. The memo keeps, per path, the inferred schema and
    * a stamp of what inference saw: every data file of the relation as
    * (path, length, modification time), from the listing Spark makes
    * for the read anyway, and the session confs that change what
    * inference returns. A read whose stamp matches reuses the schema
    * and starts no job; any other read infers and replaces the entry.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val confs = inferenceConfs(spark)
    // a changed directory can fail to plan under the old schema (a new
    // partition value its partition type cannot hold), and Spark moves
    // a partition column that is also a data column to the end under a
    // given schema: either way, infer
    val memo = Option(parquetSchemas.get(path)).flatMap { case (schema, stamp) =>
      Try(spark.read.schema(schema).parquet(path)).toOption
        .filter(df => df.schema == schema && listingStamp(df, confs).contains(stamp))
    }
    memo.getOrElse {
      val df = spark.read.parquet(path)
      listingStamp(df, confs).foreach(st => parquetSchemas.put(path, (df.schema, st)))
      df
    }
  }

  /** Explicitly set confs that parquet schema or partition inference
    * reads (binaryAsString, nanosAsLong, mergeSchema, partition type
    * inference, case sensitivity, ...).
    */
  private def inferenceConfs(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.toSeq.filter { case (k, _) =>
      k == "spark.sql.caseSensitive" ||
        Seq("spark.sql.parquet.", "spark.sql.legacy.", "spark.sql.sources.")
          .exists(k.startsWith)
    }.sorted

  /** SHA-256 over the relation's data files and `confs`, or None when
    * the plan is not a file relation with a listing.
    */
  private def listingStamp(df: DataFrame, confs: Seq[(String, String)]): Option[String] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case h: HadoopFsRelation => h.location }
      .collect { case index: PartitioningAwareFileIndex =>
        val md = MessageDigest.getInstance("SHA-256")
        def put(s: Any): Unit = md.update(s"$s\u0000".getBytes(UTF_8))
        index.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
          .sorted.foreach { case (p, len, mtime) => put(p); put(len); put(mtime) }
        confs.foreach { case (k, v) => put(k); put(v) }
        java.util.HexFormat.of().formatHex(md.digest())
      }

  /** path -> (schema, stamp), least recently used evicted past 256 paths. */
  private val parquetSchemas = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (StructType, String)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (StructType, String)]): Boolean = size() > 256
    })
}
