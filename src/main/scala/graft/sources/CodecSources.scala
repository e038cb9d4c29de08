package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import scala.util.Try

import graft.core.GraftSession

/** Codec-backed byte-record sources — the rebuild of the reference's
  * `LzoCodec[T]`/`CodecSource[T]` family (commons/source/
  * LzoTraits.scala:33-56, CodecSource.scala:33-69): records are
  * opaque byte arrays decoded via an injection `Array[Byte] => T`,
  * with an optional tolerated-error threshold
  * (ErrorHandling/MaxFailuresCheck, source/MaxFailuresCheck.scala:
  * 24-45). Storage is parquet with a single binary column — splittable
  * and compressed, replacing LZO block files.
  */
object CodecSource {

  val bytesCol = "bytes"

  def write[T](ds: Dataset[T], path: String, encode: T => Array[Byte]): Unit = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map(encode)(org.apache.spark.sql.Encoders.BINARY)
      .toDF(bytesCol).write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Decode every record; a decode failure fails the job (strict —
    * the plain `LzoCodec` behavior).
    */
  def read[T: Encoder](spark: SparkSession, path: String,
      decode: Array[Byte] => T): Dataset[T] = {
    import spark.implicits._
    GraftSession.readParquet(spark, path).select(col(bytesCol)).as[Array[Byte]].map(decode)
  }

  /** Tolerate up to `maxErrors` decode failures, counted with an
    * accumulator; the count is checked when the action completes via
    * [[ErrorThresholdCheck.assertUnder]] (the reference checked its
    * Hadoop counter after the flow, MaxFailuresCheck.scala:24-45).
    */
  def readTolerant[T: Encoder](spark: SparkSession, path: String,
      decode: Array[Byte] => T): (Dataset[T], ErrorThresholdCheck) = {
    import spark.implicits._
    val errors = spark.sparkContext.longAccumulator("codec-decode-errors")
    val ds = GraftSession.readParquet(spark, path).select(col(bytesCol)).as[Array[Byte]]
      .flatMap { bytes =>
        Try(decode(bytes)).toOption match {
          case some @ Some(_) => some
          case None => errors.add(1L); None
        }
      }
    (ds, new ErrorThresholdCheck(errors))
  }
}

final class ErrorThresholdCheck(acc: LongAccumulator) {
  def errorCount: Long = acc.value
  def assertUnder(maxErrors: Long): Unit =
    require(acc.value <= maxErrors,
      s"decode errors ${acc.value} exceeded threshold $maxErrors")
}

/** Daily/hourly date-suffixed source factories (reference
  * source/DailySources.scala:23-63, HourlySources.scala) over the
  * time-pathed reader.
  */
object DailySuffixSource {
  import graft.dates._
  def apply(prefix: String, range: DateRange, format: String = "parquet")(
      implicit zone: java.time.ZoneId): TimePathedSource =
    TimePathedSource(s"$prefix/%1$$tY/%1$$tm/%1$$td", range, Days(1), format)
}

object HourlySuffixSource {
  import graft.dates._
  def apply(prefix: String, range: DateRange, format: String = "parquet")(
      implicit zone: java.time.ZoneId): TimePathedSource =
    TimePathedSource(s"$prefix/%1$$tY/%1$$tm/%1$$td/%1$$tH", range, Hours(1), format)
}

/** Driver-side read of a small source (reference `readAtSubmitter`,
  * Source.scala:190-194) — e.g. convergence scalars in iterative
  * jobs.
  */
object ReadAtSubmitter {
  def apply(df: DataFrame): Seq[Row] = df.collect().toSeq
}
