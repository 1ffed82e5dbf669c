package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftshim.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.ingest.Sinks
import graft.model.Tables
import graft.sources.ParquetDirect

/** The driver-side footer reader every Parquet input opens through: its
  * schema is the one Spark's inference gives, under the session's
  * conversion flags, for single files, Spark-written directories and
  * summary files; it refuses what inference refuses; and a table open
  * starts no Spark job. */
class ParquetDirectSpec extends SparkSpec with Matchers {

  /** Run `body` with the SQL confs `kv` set, then restore them. */
  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def sameAsInference(paths: String*): Unit =
    ParquetDirect.footerSchema(spark, paths: _*) shouldBe
      spark.read.parquet(paths: _*).schema

  test("footer schema equals Spark's inference for every sf table, under each conversion flag") {
    val flags = Seq(
      Seq.empty[(String, String)],
      Seq("spark.sql.parquet.binaryAsString" -> "true"),
      Seq("spark.sql.parquet.int96AsTimestamp" -> "false"),
      Seq("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false"))
    for (kv <- flags; t <- Tables.names) withConf(kv: _*) {
      withClue(s"$t under $kv: ") {
        sameAsInference(s"$sf0001/$t.parquet")
      }
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      sameAsInference(s"$sf0001/events.parquet")
    }
  }

  test("a Spark-written directory: _SUCCESS skipped, nested, decimal and timestamp_ntz columns, partition discovery") {
    val dir = Sinks.tempDir("footer_nested")
    spark.range(0, 40, 1, 4).select(
        col("id"),
        struct(col("id").as("a"), col("id").cast("string").as("b")).as("s"),
        array(col("id"), lit(null).cast("long")).as("arr"),
        map(col("id").cast("string"), col("id")).as("m"),
        col("id").cast("decimal(20,3)").as("dec"),
        lit("2024-01-15 10:00:00").cast("timestamp_ntz").as("ntz"),
        (col("id") % 3).cast("string").as("p"))
      .write.mode("overwrite").parquet(s"$dir/flat")
    new java.io.File(s"$dir/flat/_SUCCESS").exists() shouldBe true
    sameAsInference(s"$dir/flat")
    // the key is the first data file's Spark schema; the relation reads
    // all-nullable as Spark's does
    spark.read.parquet(s"$dir/flat").where(col("id") === 7)
      .select("s.b", "dec").collect().map(r => (r.getString(0),
        r.getDecimal(1).toPlainString)).toSeq shouldBe Seq(("7", "7.000"))
    spark.range(0, 40).select(col("id"), (col("id") % 3).cast("string").as("p"))
      .write.mode("overwrite").partitionBy("p").parquet(s"$dir/parted")
    // the footer holds the data columns; the read discovers `p` as Spark's does
    ParquetDirect.footerSchema(spark, s"$dir/parted").fieldNames.toSeq shouldBe Seq("id")
    ParquetDirect.read(spark, s"$dir/parted").schema shouldBe
      spark.read.parquet(s"$dir/parted").schema
    ParquetDirect.read(spark, s"$dir/parted").where(col("p") === "1").count() shouldBe 13L
  }

  test("a _common_metadata file names the schema, as in Spark's inference") {
    val dir = Sinks.tempDir("footer_summary")
    spark.range(4).select(col("id")).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t")
    // a summary whose schema is WIDER than the data files': inference
    // takes the summary, so the footer reader must too
    spark.range(1).select(col("id"), lit(1.5).as("extra")).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/wide")
    val wideFile = new java.io.File(s"$dir/wide").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(wideFile.toPath, Paths.get(s"$dir/t/_common_metadata"))
    spark.read.parquet(s"$dir/t").schema.fieldNames.toSeq shouldBe Seq("id", "extra")
    sameAsInference(s"$dir/t")
  }

  test("an empty directory refuses, as Spark's inference does") {
    val dir = Sinks.tempDir("footer_empty")
    Files.createDirectories(Paths.get(dir))
    an[AnalysisException] should be thrownBy spark.read.parquet(dir)
    val e = intercept[AnalysisException](ParquetDirect.footerSchema(spark, dir))
    e.getCondition shouldBe "UNABLE_TO_INFER_SCHEMA"
    intercept[AnalysisException](ParquetDirect.footerSchema(spark, s"$dir/absent"))
      .getCondition shouldBe "PATH_NOT_FOUND"
  }

  test("under spark.sql.parquet.mergeSchema=true the schema is Spark's merged inference") {
    val dir = Sinks.tempDir("footer_merge")
    spark.range(3).select(col("id")).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t")
    // a wider file that sorts AFTER the narrow part file
    spark.range(3).select(col("id"), lit("x").as("extra")).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/wide")
    Files.copy(new java.io.File(s"$dir/wide").listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath,
      Paths.get(s"$dir/t/zz-wide.parquet"))
    val first = ParquetDirect.footerSchema(spark, s"$dir/t")
    first.fieldNames.toSeq shouldBe Seq("id")
    first shouldBe spark.read.parquet(s"$dir/t").schema
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      val merged = ParquetDirect.footerSchema(spark, s"$dir/t")
      merged.fieldNames.toSeq shouldBe Seq("id", "extra")
      merged shouldBe spark.read.parquet(s"$dir/t").schema
    }
  }

  test("opening a table or a sink starts no Spark job") {
    val sink = Sinks.tempDir("footer_jobs")
    Tables.orders(spark, sf0001).limit(5).write.mode("overwrite").parquet(sink)
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      Tables.load(spark, sf0001, "lineitem").schema.nonEmpty shouldBe true
      Sinks.read(spark, sink).schema.fieldNames should contain ("o_orderkey")
      ListenerDrain.drain(spark.sparkContext)
      jobs.get shouldBe 0
      // the listener sees jobs: inference starts one
      spark.read.parquet(sink).schema
      ListenerDrain.drain(spark.sparkContext)
      jobs.get should be > 0
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
