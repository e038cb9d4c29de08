package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.GraftSession

/** Small-files compaction — the maintenance pass every daily-append
  * table needs at scale. Incremental writers (streaming foreachBatch,
  * per-hour jobs, the versioned KV store) each emit files sized by
  * their batch, not by what a scan wants; after months a partition
  * holds thousands of kilobyte files, and a 100 TB scan pays task
  * scheduling + open/seek per file instead of streaming megabyte row
  * groups. Compaction rewrites a directory into ~`targetBytes` files:
  * one distributed read + round-robin repartition + write, sized from
  * the actual on-disk footprint.
  *
  * The rewrite lands in a NEW directory (write-then-swap is the
  * caller's move — object stores have no atomic directory rename, so
  * publication belongs with the table-pointer mechanism, e.g.
  * [[VersionedKeyValStore]]'s versioned paths or a partition-pointer
  * swap).
  */
object Compaction {

  /** Total bytes of data files under `path` (recursive, skipping
    * hidden/_SUCCESS bookkeeping).
    */
  def dataBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) total += f.getLen
    }
    total
  }

  /** Number of output files for a compacted rewrite of `path`. */
  def plannedFiles(spark: SparkSession, path: String, targetBytes: Long): Int =
    math.max(1, math.ceil(dataBytes(spark, path).toDouble / targetBytes).toInt)

  /** Rewrite the parquet directory at `inPath` into `outPath` with
    * ~`targetBytes` per file (default 128 MiB — one HDFS-ish block /
    * one comfortable scan task). Round-robin repartition: even output
    * sizes, no shuffle key needed. Returns the output file count.
    *
    * For layout-preserving compaction use the layout writers instead:
    * `Bucketing.writeBucketed` (keeps join co-location) or
    * `ZOrder.writeZOrdered` (keeps multi-dimensional clustering) —
    * this pass optimizes file COUNT only.
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    val n = plannedFiles(spark, inPath, targetBytes)
    GraftSession.readParquet(spark, inPath).repartition(n)
      .write.mode("overwrite").parquet(outPath)
    n
  }

  /** Compact each Hive-style partition directory (`col=value`) under
    * `inPath` independently, preserving the partition column in the
    * output layout: small files are the per-partition problem, and a
    * global repartition would destroy partition pruning. Returns
    * (partition directory name → output file count).
    */
  def compactPartitioned(spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long = 128L * 1024 * 1024): Map[String, Int] = {
    val p = new Path(inPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.contains("="))
    parts.map { part =>
      part -> compact(spark, s"$inPath/$part", s"$outPath/$part", targetBytes)
    }.toMap
  }
}
