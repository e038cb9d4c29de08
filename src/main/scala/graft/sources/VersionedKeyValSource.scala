package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GraftSession

/** Versioned key/value store — rebuild of
  * `VersionedKeyValSource[K,V]` (commons/source/
  * VersionedKeyValSource.scala:40-210) on versioned parquet dirs.
  *
  * Layout: `root/v=<version>/...parquet` with Spark's `_SUCCESS`
  * marker gating visibility (the reference used dfs-datastores'
  * VersionedTap success-file protocol). `writeIncremental` merges the
  * previous version with a delta via a per-key aggregate — the
  * reference tagged old=0/new=1, secondary-sorted and monoid-summed
  * (:163-210); here it is a union + groupBy aggregation, which Spark
  * executes as a single shuffle with map-side partial aggregation.
  */
final case class VersionedKeyValStore(
    root: String,
    keyCol: String = "key",
    valCol: String = "value",
    versionsToKeep: Int = VersionedKeyValStore.defaultVersionsToKeep) {

  private def fs(spark: SparkSession) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def versions(spark: SparkSession): Seq[Long] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val f = fs(spark)
    if (!f.exists(rootPath)) Seq.empty
    else f.listStatus(rootPath).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.drop(2).toLong }
      .filter { v =>
        f.exists(new org.apache.hadoop.fs.Path(s"$root/v=$v/_SUCCESS"))
      }
      .sorted
  }

  def latestVersion(spark: SparkSession): Option[Long] = versions(spark).lastOption

  def read(spark: SparkSession): DataFrame = {
    val v = latestVersion(spark).getOrElse(
      sys.error(s"no valid versions at $root"))
    readVersion(spark, v)
  }

  def readVersion(spark: SparkSession, v: Long): DataFrame =
    GraftSession.readParquet(spark, s"$root/v=$v")

  /** Write a full new version (old versions beyond `versionsToKeep`
    * are pruned, reference default 3,
    * VersionedKeyValSource.scala:41).
    */
  def write(df: DataFrame): Long = {
    val spark = df.sparkSession
    val next = latestVersion(spark).map(_ + 1).getOrElse(0L)
    df.write.mode(SaveMode.Overwrite).parquet(s"$root/v=$next")
    prune(spark)
    next
  }

  /** Monoid-merge `delta` into the latest version and write version+1
    * (`writeIncremental`). `merge` is the per-key combine aggregate,
    * e.g. `sum(col)`; defaults to sum on the value column.
    */
  def writeIncremental(delta: DataFrame, merge: Option[Column] = None): Long = {
    val spark = delta.sparkSession
    val mergeAgg = merge.getOrElse(sum(col(valCol)).as(valCol))
    val unioned = latestVersion(spark) match {
      case Some(v) => readVersion(spark, v).unionByName(delta)
      case None => delta
    }
    val merged = unioned.groupBy(col(keyCol)).agg(mergeAgg)
    write(merged)
  }

  private def prune(spark: SparkSession): Unit = {
    val vs = versions(spark)
    if (vs.size > versionsToKeep) {
      val f = fs(spark)
      vs.dropRight(versionsToKeep).foreach { v =>
        f.delete(new org.apache.hadoop.fs.Path(s"$root/v=$v"), true)
      }
    }
  }
}

object VersionedKeyValStore {
  /** Reference retention default (VersionedKeyValSource.scala:41). */
  val defaultVersionsToKeep = 3
}
