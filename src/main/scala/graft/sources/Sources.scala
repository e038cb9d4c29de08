package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.GraftSession
import graft.dates.{DateRange, Duration, TimePathUtil}

import java.time.ZoneId

/** Source/sink layer — rebuild of the reference's Source/Tap/Scheme
  * stack (Source.scala:81-194, FileSource.scala) on
  * `DataFrameReader`/`DataFrameWriter`. A Source is schema + location;
  * `read` gives a DataFrame, `write` persists one.
  */
trait Source extends Serializable {
  def read(spark: SparkSession): DataFrame
  def write(df: DataFrame, mode: SaveMode = SaveMode.Overwrite): Unit
}

/** Delimited text family (Tsv/Csv/Osv, FileSource.scala:168-192,
  * 244-258, 311-316). `strict=true` ⇒ FAILFAST (reference `strict`
  * schema checking); `safe=true` ⇒ PERMISSIVE null-on-error coercion
  * (the fields API's lenient `TupleGetter` behavior,
  * TupleGetter.scala:108-154).
  */
final case class Delimited(
    path: String,
    sep: String = "\t",
    header: Boolean = false,
    schema: Option[StructType] = None,
    strict: Boolean = false,
    safe: Boolean = true) extends Source {

  def read(spark: SparkSession): DataFrame = {
    var r = spark.read
      .option("sep", sep)
      .option("header", header.toString)
      .option("mode", if (strict) "FAILFAST" else "PERMISSIVE")
    schema match {
      case Some(s) => r = r.schema(s)
      case None if !header => r = r.option("inferSchema", "true")
      case None => r = r.option("inferSchema", "true")
    }
    r.csv(path)
  }

  def write(df: DataFrame, mode: SaveMode): Unit =
    df.write.mode(mode).option("sep", sep).option("header", header.toString).csv(path)
}

object Tsv {
  def apply(path: String, header: Boolean = false): Delimited =
    Delimited(path, "\t", header)
}
object Csv {
  def apply(path: String, header: Boolean = false): Delimited =
    Delimited(path, ",", header)
}
/** One-column separated values (Osv, FileSource.scala:311-316). */
object Osv {
  def apply(path: String): Delimited = Delimited(path, "")
}

/** TSV with header persisted with the data (TsvWithHeader,
  * scalding-commons TsvWithHeader.scala:36-124) — Spark's native
  * header option subsumes the sidecar file.
  */
object TsvWithHeader {
  def apply(path: String): Delimited = Delimited(path, "\t", header = true)
}

/** Text lines (TextLine, FileSource.scala:155-162). The reference
  * exposed ('offset, 'line) and then dropped the offset; we expose
  * 'line' and add the offset only on request.
  */
final case class TextLine(path: String, withOffset: Boolean = false) extends Source {
  def read(spark: SparkSession): DataFrame = {
    val base = spark.read.text(path).withColumnRenamed("value", "line")
    if (withOffset) base.withColumn("offset", monotonically_increasing_id())
    else base
  }
  def write(df: DataFrame, mode: SaveMode): Unit =
    df.write.mode(mode).text(path)
}

/** One JSON object per line (JsonLine, FileSource.scala:450-503). */
final case class JsonLine(path: String, schema: Option[StructType] = None)
    extends Source {
  def read(spark: SparkSession): DataFrame = {
    val r = spark.read
    schema.fold(r)(s => r.schema(s)).json(path)
  }
  def write(df: DataFrame, mode: SaveMode): Unit =
    df.write.mode(mode).json(path)
}

/** Columnar binary format — replaces the reference's Cascading
  * SequenceFile family (FileSource.scala:194-212) as the native
  * high-performance format.
  */
final case class ParquetSource(path: String) extends Source {
  def read(spark: SparkSession): DataFrame = GraftSession.readParquet(spark, path)
  def write(df: DataFrame, mode: SaveMode): Unit =
    df.write.mode(mode).parquet(path)
}

/** ORC columnar source — the second native columnar format Spark
  * ships (predicate pushdown + column pruning like parquet), for
  * interop with Hive-era warehouses where ORC is the table format.
  */
final case class OrcSource(path: String) extends Source {
  def read(spark: SparkSession): DataFrame = spark.read.orc(path)
  def write(df: DataFrame, mode: SaveMode): Unit =
    df.write.mode(mode).orc(path)
}

/** Submitter-side in-memory source (IterableSource,
  * IterableSource.scala:44-84).
  */
object IterableSource {
  def apply[T: Encoder](spark: SparkSession, items: Seq[T]): Dataset[T] =
    spark.createDataset(items)
}

/** Discarding sink driving side-effect-only flows (NullSource,
  * Source.scala:268-308).
  */
object NullSink {
  def write(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Only read directories containing _SUCCESS (SuccessFileSource,
  * FileSource.scala:217-229). Spark writes _SUCCESS natively.
  */
object SuccessFiltered {
  def goodPaths(spark: SparkSession, paths: Seq[String]): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.filter { p =>
      val success = new org.apache.hadoop.fs.Path(p, "_SUCCESS")
      val fs = success.getFileSystem(conf)
      fs.exists(success)
    }
  }
}

/** Date-partitioned path template over a DateRange
  * (TimePathedSource, FileSource.scala:318-384): resolves the
  * concrete per-period paths at plan time (partition pruning before
  * the scan, like the reference's Globifier), reads the union.
  * Template uses java.util.Formatter conversions, e.g.
  * "/data/%1$tY/%1$tm/%1$td".
  */
final case class TimePathedSource(
    pattern: String, range: DateRange, step: Duration,
    format: String = "parquet")(implicit zone: ZoneId) extends Source {

  def resolvedPaths(spark: SparkSession): Seq[String] = {
    val all = TimePathUtil.paths(pattern, range, step)
    val conf = spark.sparkContext.hadoopConfiguration
    all.filter { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      fs.globStatus(hp) match {
        case null => false
        case arr => arr.nonEmpty
      }
    }
  }

  def read(spark: SparkSession): DataFrame = {
    val paths = resolvedPaths(spark)
    require(paths.nonEmpty, s"no paths resolved for $pattern over $range")
    spark.read.format(format).load(paths: _*)
  }

  /** Reference writes to the END-date path (FileSource.scala:375-384). */
  def write(df: DataFrame, mode: SaveMode): Unit = {
    val endPath = TimePathUtil.paths(pattern, DateRange(range.end, range.end), step).head
    df.write.mode(mode).format(format).save(endPath)
  }
}

/** Latest existing path in range (MostRecentGoodSource,
  * FileSource.scala:389-403).
  */
object MostRecentGood {
  def apply(spark: SparkSession, candidates: Seq[String]): Option[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    candidates.reverseIterator.find { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      fs.globStatus(hp) match { case null => false; case arr => arr.nonEmpty }
    }
  }
}

/** Partitioned sink with a routing function — PailSource
  * (commons/source/PailSource.scala:40-130). Arbitrary `T =>
  * List[String]` routing becomes derived partition columns +
  * `partitionBy`, which Spark turns into one pass with per-partition
  * writers.
  */
object PartitionedSink {
  def write(df: DataFrame, path: String, partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)
}

/** Named checkpoint of an intermediate result, reused on rerun
  * (Checkpoint, commons/extensions/Checkpoint.scala:66-170): if the
  * checkpoint dir exists with _SUCCESS, read it; else compute, write,
  * and read back.
  */
object Checkpoint {
  def apply(spark: SparkSession, dir: String)(compute: => DataFrame): DataFrame = {
    val success = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    val fs = success.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(success)) compute.write.mode(SaveMode.Overwrite).parquet(dir)
    GraftSession.readParquet(spark, dir)
  }
}
