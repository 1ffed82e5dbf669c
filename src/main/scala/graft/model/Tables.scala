package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.ParquetDirect

/** Loaders for the testdata star schema (TESTDATA.md / FIXTURES.md §A).
  *
  * Stand-in for the reference's JDBC table reads
  * (`Sites/DataProc_Script/spark_ingest_slmandicprd.py:56-63`): the reference
  * reads one named table per job over JDBC; we read the same logical tables
  * from columnar Parquet. Real JDBC would be a config swap behind this object
  * (`spark.read.format("jdbc").option("dbtable", name)` with
  * `partitionColumn`/`numPartitions` for parallel scans — the reference reads
  * single-partition, which does not scale; see SURVEY.md §4).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one table from an sf directory. Parquet → columnar scan with
    * predicate pushdown + column pruning handled by Catalyst. The schema
    * comes from the file's one footer, read on the driver
    * ([[ParquetDirect.footerSchema]]) — table metadata, as the reference
    * takes it from the source catalog — so an open starts no Spark job. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    ParquetDirect.read(spark, s"$sfDir/$name.parquet")

  def region(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "lineitem")

  /** `events.ts` normalization. The generated file has carried two physical
    * shapes across driver revisions: nanosecond-precision parquet (which
    * Spark 4 rejects outright — PARQUET_TYPE_ILLEGAL — unless read as int64
    * nanos via `spark.sql.legacy.parquet.nanosAsLong`) and µs naive
    * timestamps (which Spark 4 infers as TIMESTAMP_NTZ — a type
    * `CAST(ts AS LONG)` refuses). Normalize both to a µs session-TZ
    * TimestampType column: session TZ is pinned UTC everywhere, so the NTZ→
    * LTZ cast preserves wall-clock values and matches DuckDB's naive-as-UTC
    * oracle arithmetic exactly. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
