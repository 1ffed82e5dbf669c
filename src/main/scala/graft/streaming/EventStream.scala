package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming wrappers: the same windowed aggregations as
  * [[TimeWindows]], fed by a file stream with an event-time watermark.
  *
  * Streaming results have no SQL oracle (state + watermark semantics);
  * EventStreamSpec asserts streaming-equals-batch by running
  * `processAllAvailable` against a memory sink (the recommended local
  * pattern for verifying streaming plans).
  */
object EventStream {

  /** events.parquet schema as the file stream needs it declared up front.
    * `ts`'s physical shape has varied across testdata revisions (int64
    * nanos vs µs naive timestamps — see graft.model.Tables.events); the
    * declared type is taken from the file at hand and normalized to a µs
    * session-TZ timestamp column either way. */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-based event stream over an sf directory. FileStreamSource wants a
    * directory it can monitor for arriving files (the real deployment
    * shape: a landing dir receiving event batches), so the single testdata
    * file is staged into one. */
  def read(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val landing = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      landing.resolve("events.parquet"))
    // declare the ts type the file actually carries (a one-footer batch
    // read), then normalize exactly as the batch loader does
    val fileTs = graft.sources.ParquetDirect.footerSchema(spark,
      s"$sfDir/events.parquet")("ts").dataType
    val schema = StructType(rawSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = fileTs) else f))
    val raw = spark.readStream.schema(schema).parquet(landing.toString)
    fileTs match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Watermarked tumbling aggregation: the streaming twin of
    * [[TimeWindows.tumbling]]. State for a window is dropped once the
    * watermark passes its end — bounded memory at unbounded input. */
  def tumbling(events: DataFrame, width: String, watermark: String): DataFrame =
    // the watermark must sit on the SAME column the window groups by —
    // watermarking `ts` and windowing date_trunc(ts) leaves the aggregation
    // "without watermark" for the analyzer, which forbids append mode
    events.withColumn("tss", date_trunc("second", col("ts")))
      .withWatermark("tss", watermark)
      .groupBy(window(col("tss"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  /** Streaming exact dedup with bounded state: duplicates of (user_id,
    * event_type) are dropped; the watermark lets the state store evict keys
    * older than the horizon — the streaming twin of the batch dedup
    * operators in graft.llm.Dedup. */
  def dedup(events: DataFrame, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicates("user_id", "event_type")

  /** Streaming dedup with GUARANTEED bounded state (SPARK-42931): unlike
    * [[dedup]], whose per-key state lives forever for keys that keep
    * recurring, `dropDuplicatesWithinWatermark` evicts a key's state once
    * the watermark passes its event time + delay — so state is bounded by
    * the horizon's key arrival rate even when TOTAL key cardinality is
    * unbounded (the 100 TB/day contract). Trade-off, spec-pinned: a key
    * recurring AFTER the horizon is emitted again — dedup-within-horizon,
    * not dedup-ever. */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
      watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Watermarked stream-stream inner join: each click joined to the same
    * user's purchases in the following 10 minutes. Both sides carry
    * watermarks and the join condition bounds event time on both ends, so
    * the state store evicts rows as soon as the watermark proves they can
    * no longer match — bounded state at unbounded input (without the time
    * bound Spark would have to buffer both streams forever). */
  def clickPurchaseJoin(events: DataFrame, watermark: String): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        date_trunc("second", col("ts")).as("c_ts"))
      .withWatermark("c_ts", watermark)
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        date_trunc("second", col("ts")).as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", watermark)
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("click_id"), col("c_user").as("user_id"),
        col("c_ts"), col("p_ts"), col("p_value"))
  }

  /** Left-outer variant of [[clickPurchaseJoin]]: clicks with no purchase
    * in the window are emitted with NULL payload — but only once the
    * watermark PROVES no match can still arrive (outer results are
    * withheld until then; clicks inside the final watermark horizon when
    * the stream drains stay in state, which is correct-by-definition for
    * an unbounded stream). Same bounded-state shape as the inner join. */
  def clickPurchaseLeftJoin(events: DataFrame, watermark: String): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        date_trunc("second", col("ts")).as("c_ts"))
      .withWatermark("c_ts", watermark)
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        date_trunc("second", col("ts")).as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", watermark)
    clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"),
        "left_outer")
      .select(col("click_id"), col("c_user").as("user_id"),
        col("c_ts"), col("p_ts"), col("p_value"))
  }

  /** Stream–static enrichment join + windowed rollup: the streaming fact
    * joins a STATIC dimension (re-read per micro-batch, broadcast when
    * small — no streaming state at all, unlike a stream-stream join), then
    * aggregates per window and dimension attribute. The standard
    * ingest-enrich-aggregate shape for reference-data joins at any scale;
    * spec-checked equal to the identical batch composition. */
  def enrichedTumbling(events: DataFrame, dim: DataFrame,
      width: String, watermark: String): DataFrame =
    events.join(broadcast(dim), Seq("event_type"))
      .withWatermark("ts", watermark)
      .groupBy(window(date_trunc("second", col("ts")), width).as("w"), col("category"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").as("w_start"), col("category"), col("n"), col("sum_value"))

  /** Streaming sessionization — the watermark-bounded twin of
    * [[TimeWindows.sessionize]]: a session's state closes (and emits) once
    * the watermark passes its gap horizon. */
  def sessionized(events: DataFrame, gap: String, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"),
        session_window(date_trunc("second", col("ts")), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        min(date_trunc("second", col("ts"))).as("sess_start"),
        max(date_trunc("second", col("ts"))).as("sess_end"),
        round(sum("value"), 2).as("sum_value"))
      .select(col("user_id"), col("sess_start"), col("sess_end"),
        col("n_events"), col("sum_value"))

  /** Run a streaming aggregation to completion against an in-memory sink
    * and return the materialized result (local verification harness). */
  def runToMemory(agg: DataFrame, name: String): DataFrame = {
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .start()
    q.processAllAvailable()
    q.stop()
    agg.sparkSession.table(name)
  }
}
