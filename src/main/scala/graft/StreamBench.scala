package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming micro-bench: rows/s + state size for the stateful streaming
  * paths, read off `StreamingQueryProgress` — the instrumentation the
  * batch bench cannot provide (streaming keys have no DuckDB oracle, and
  * wall time alone says nothing about state growth). Dev harness, not part
  * of the driver contract; results are recorded in the round notes.
  *
  * Each run stages `events` into an 8-file landing dir and streams it with
  * `maxFilesPerTrigger=1`, so the state store works across 8 micro-batch
  * boundaries (eviction, timer firing, commit idempotence) instead of one
  * monolithic pass. State metrics are maxima across batches: the
  * bounded-state claim is about the peak, not the end state.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // transformWithState requires RocksDB, and RocksDB is the at-scale
      // state backend anyway — bench what production would run
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val ev = graft.model.Tables.events(spark, sfDir)
    val landing = java.nio.file.Files.createTempDirectory("graft_sbench").toString
    ev.repartition(8).write.mode("overwrite").parquet(landing)
    val schema = graft.sources.ParquetDirect.footerSchema(spark, landing)
    def stream: DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(landing)

    def measure(name: String)(start: DataFrame => StreamingQuery): Unit = {
      val t0 = System.nanoTime()
      val q = start(stream)
      q.processAllAvailable()
      val secs = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress
      val rows = progs.map(_.numInputRows).sum
      val stateRows = progs.flatMap(_.stateOperators.map(_.numRowsTotal))
        .maxOption.getOrElse(0L)
      val stateMem = progs.flatMap(_.stateOperators.map(_.memoryUsedBytes))
        .maxOption.getOrElse(0L)
      q.stop()
      println(f"""{"op":"$name","rows":$rows,"sec":$secs%.2f,""" +
        f""""rows_per_sec":${rows / secs}%.0f,"batches":${progs.length},""" +
        f""""state_rows":$stateRows,"state_bytes":$stateMem}""")
    }

    // X104: guaranteed-bounded-state dedup — state peak is the horizon's
    // key arrival rate, never total key cardinality
    measure("dedup_within_watermark") { s =>
      graft.streaming.EventStream
        .dedupWithinWatermark(s, Seq("user_id", "event_type"), "10 minutes")
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", graft.ingest.Sinks.tempDir("sb_dedup_ckpt"))
        .start()
    }

    // X65b: transformWithState sessions with event-time timers
    measure("sessions_with_timers") { s =>
      import graft.streaming.StatefulOps
      val timed = s.select(col("user_id"),
          date_trunc("second", col("ts")).cast("timestamp").as("ts"))
        .withWatermark("ts", "10 minutes")
        .as[StatefulOps.TimedEvent]
      StatefulOps.sessionsWithTimers(timed, gapMs = 30L * 60 * 1000).toDF()
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", graft.ingest.Sinks.tempDir("sb_sess_ckpt"))
        .start()
    }

    // X36d: exactly-once sink — measures the commit-protocol overhead
    // (one staged write + one atomic log create per micro-batch)
    measure("transactional_sink") { s =>
      val t = graft.ingest.Sinks.tempDir("sb_txn_table")
      s.select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .writeStream
        .foreachBatch(graft.streaming.TransactionalSink.into(t))
        .option("checkpointLocation", graft.ingest.Sinks.tempDir("sb_txn_ckpt"))
        .start()
    }

    spark.stop()
  }
}
