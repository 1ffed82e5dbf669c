package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table sinks.
  *
  * The reference writes every table as a full overwrite (two-phase: stage to
  * GCS, load into BigQuery, `spark_ingest_slmandicprd.py:99-103`) and appends
  * one audit row per run (`:137-141`). Re-expressed as Parquet `overwrite` /
  * `append` writers — at cluster scale these become partitioned writes where
  * `partitionBy` columns carry the pruning predicates.
  */
object Sinks {
  def overwrite(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def append(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    graft.sources.ParquetDirect.read(spark, path)

  /** Scratch dir for sink-demonstration queries (unique per call so Verify
    * and Bench runs never cross-contaminate). */
  def tempDir(prefix: String): String =
    Files.createTempDirectory(s"graft_$prefix").toString
}
