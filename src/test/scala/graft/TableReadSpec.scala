package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType}

import graft.core.GraftSession

/** The parquet read path keeps inferred schemas: a repeated read of an
  * unchanged path plans without a Spark job and equals a plain
  * `spark.read.parquet`, while a changed listing or a conf that changes
  * inference forces a fresh inference.
  */
class TableReadSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-read").toString

  /** Runs `body` (which takes no action) and counts the Spark jobs it
    * started. A marker job in its own group closes the window: the
    * listener bus delivers events in order, so once the marker is seen
    * every earlier job start has been counted.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val marker = s"read-probe-end-${System.nanoTime()}"
    val started = new AtomicInteger
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          seen.countDown()
        else started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(marker, marker)
      sc.parallelize(Seq(1), 1).count()
      assert(seen.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      (out, started.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")).toSeq.sorted

  private def assertSameAsPlain(df: DataFrame, path: String): Unit = {
    val plain = spark.read.parquet(path)
    assert(df.schema == plain.schema)
    assert(rows(df) == rows(plain))
  }

  test("a repeated table read starts no Spark job and equals a plain read") {
    import spark.implicits._
    val dir = tmp()
    val path = s"$dir/t.parquet"
    Seq((1L, "a", 0.5), (2L, "b", 1.5), (3L, "c", 2.5)).toDF("k", "s", "x")
      .repartition(2).write.parquet(path)
    val (_, first) = jobsDuring(GraftSession.table(spark, dir, "t"))
    assert(first >= 1, "the first read infers the schema with a job")
    val (again, second) = jobsDuring(GraftSession.table(spark, dir, "t"))
    assert(second == 0)
    assert(again.columns.toSeq == Seq("k", "s", "x"))
    assertSameAsPlain(again, path)
    // a new file in the listing invalidates the entry: infer again
    Seq((4L, "d", 3.5)).toDF("k", "s", "x").write.mode("append").parquet(path)
    val (appended, third) = jobsDuring(GraftSession.table(spark, dir, "t"))
    assert(third >= 1)
    assertSameAsPlain(appended, path)
  }

  test("overwriting a path with a different schema is picked up") {
    import spark.implicits._
    val dir = tmp()
    val path = s"$dir/t.parquet"
    Seq((1, "a"), (2, "b")).toDF("a", "b").write.parquet(path)
    GraftSession.table(spark, dir, "t")
    assert(GraftSession.table(spark, dir, "t").columns.toSeq == Seq("a", "b"))
    Seq(("z", 2.0, 9L)).toDF("b", "c", "a").write.mode("overwrite").parquet(path)
    val back = GraftSession.table(spark, dir, "t")
    assert(back.columns.toSeq == Seq("b", "c", "a"))
    assertSameAsPlain(back, path)
  }

  test("a session conf that changes inference is picked up") {
    import spark.implicits._
    val dir = tmp()
    val path = s"$dir/t.parquet"
    // a plain BINARY column in a file without Spark's schema metadata
    // (which would pin the type): binaryAsString decides its type
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int32 k; required binary v; }")
    val w = ExampleParquetWriter.builder(new Path(s"$path/part-0.parquet"))
      .withConf(new Configuration()).withType(schema).build()
    w.write(new SimpleGroupFactory(schema).newGroup().append("k", 1).append("v", "hi"))
    w.close()
    GraftSession.table(spark, dir, "t")
    assert(GraftSession.table(spark, dir, "t").schema("v").dataType == BinaryType)
    val key = "spark.sql.parquet.binaryAsString"
    spark.conf.set(key, "true")
    try {
      val asString = GraftSession.table(spark, dir, "t")
      assert(asString.schema("v").dataType == StringType)
      assertSameAsPlain(asString, path)
      assert(asString.select("v").as[String].collect().toSeq == Seq("hi"))
    } finally spark.conf.unset(key)
    assert(GraftSession.table(spark, dir, "t").schema("v").dataType == BinaryType)
  }

  test("a partitionBy directory keeps its partition column's type and position") {
    import spark.implicits._
    val dir = tmp()
    val path = s"$dir/t.parquet"
    Seq((1L, "a", 7), (2L, "b", 8), (3L, "c", 7)).toDF("id", "v", "p")
      .write.partitionBy("p").parquet(path)
    GraftSession.table(spark, dir, "t")
    val (again, jobs) = jobsDuring(GraftSession.table(spark, dir, "t"))
    assert(jobs == 0)
    assert(again.columns.toSeq == Seq("id", "v", "p"))
    assert(again.schema("p").dataType == IntegerType)
    assertSameAsPlain(again, path)
    assert(again.filter(col("p") === 7).count() == 2L)
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    spark.conf.set(key, "false")
    try {
      val untyped = GraftSession.table(spark, dir, "t")
      assert(untyped.schema("p").dataType == StringType)
      assertSameAsPlain(untyped, path)
    } finally spark.conf.unset(key)
  }
}
