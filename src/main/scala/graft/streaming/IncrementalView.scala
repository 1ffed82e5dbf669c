package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally maintained aggregate ("materialized view") over a stream,
  * without a transactional table format: each micro-batch writes its
  * PARTIAL aggregate to a `batch=<id>` partition (overwrite → replaying a
  * failed batch rewrites the same directory, so maintenance is idempotent —
  * the exactly-once guarantee usually delegated to Delta/Iceberg MERGE),
  * and the view is the re-aggregation of partials at read time. Count/sum
  * partials re-aggregate losslessly — the same algebra as the X53/X53b
  * sketch unions; a reader pays one small scan of per-batch rows (batches ×
  * groups, metadata-scale), never the event history. Periodic compaction =
  * re-aggregate and rewrite, X37's shape. Spec-checked equal to the batch
  * recompute in StreamingSpec.
  */
object IncrementalView {

  /** foreachBatch body: write this batch's partial (event_type, n, v_sum)
    * aggregate under `batch=<batchId>`. */
  def upsertBatch(batch: DataFrame, batchId: Long, path: String): Unit =
    batch.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("v_sum"))
      .write.mode("overwrite").parquet(s"$path/batch=$batchId")

  /** The maintained view: re-aggregate the partials. */
  def read(spark: SparkSession, path: String): DataFrame =
    graft.sources.ParquetDirect.read(spark, path)
      .groupBy("event_type")
      .agg(sum("n").as("n"), round(sum("v_sum"), 2).as("v_sum"))

  /** Count/sum partials generalize to SKETCH partials (X75): each batch
    * persists a serialized per-group KLL sketch, and any reader unions the
    * binary column into a quantile — incrementally maintained DISTRIBUTION
    * state, the thing count/sum views cannot answer. Same idempotent
    * `batch=<id>` overwrite contract. */
  def upsertSketchBatch(batch: DataFrame, batchId: Long, path: String): Unit =
    batch.groupBy("event_type")
      .agg(graft.functions.SketchAggregates.kllBuild(col("value")).as("sk"))
      .write.mode("overwrite").parquet(s"$path/batch=$batchId")

  /** Global median from the maintained sketch partials — reads batches ×
    * groups sketch rows, never the event history. */
  def readMedian(spark: SparkSession, path: String): DataFrame =
    graft.sources.ParquetDirect.read(spark, path)
      .agg(graft.functions.SketchAggregates.kllUnionQuantile(col("sk"), 0.5)
        .as("est"))
}
