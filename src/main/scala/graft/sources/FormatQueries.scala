package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.Sinks
import graft.model.Tables

/** Lake file-format breadth: CSV / JSON / ORC sink+source round-trips.
  *
  * The reference reads only JDBC (`spark.read.jdbc`,
  * `Sites/DataProc_Script/spark_ingest_slmandicprd.py:63`); a Spark-native
  * lake engine also needs the standard file formats. Each key writes a
  * projection to the format, reads it back with an explicit schema, and
  * aggregates — the oracle runs the same aggregation over the original
  * parquet, so the check proves the round-trip is lossless.
  */
object FormatQueries {

  private def roundTrip(spark: SparkSession, dir: String, format: String): DataFrame = {
    val src = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
    val path = Sinks.tempDir(s"fmt_$format")
    src.write.mode("overwrite").format(format)
      .option("header", "true") // header only meaningful for csv; harmless otherwise
      .save(path)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("user_id", LongType), StructField("value", DoubleType)))
    spark.read.format(format).option("header", "true").schema(schema).load(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("user_id").as("user_sum"),
        round(sum("value"), 2).as("value_sum"))
      .orderBy("event_type")
  }

  /** Schema evolution on read — the reference's whole job is schema-drift
    * handling (per-run DDL-if-absent, `spark_ingest_slmandicprd.py:83-97`),
    * but its sink rewrites the full table each run. Here the lake layout
    * evolves in place: batch 1 writes (o_orderkey, o_custkey), batch 2
    * appends a widened schema with o_totalprice, and a `mergeSchema` read
    * reconciles both — old files surface the new column as NULL. (Avro and
    * Delta/Iceberg variants are out of scope in this sandbox: neither
    * spark-avro nor a table-format jar is on the offline classpath.) */
  private def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val path = Sinks.tempDir("schema_evo")
    val orders = Tables.orders(spark, dir)
    // few, larger files per batch: schema reconciliation reads every file
    // footer, so don't fan a small batch into one file per core
    orders.where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"))
      .repartition(4)
      .write.mode("overwrite").parquet(path)
    orders.where(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .repartition(4)
      .write.mode("append").parquet(path)
    spark.read.option("mergeSchema", "true").parquet(path)
      .orderBy("o_orderkey")
  }

  /** Snapshot ("time travel") emulation over an append-only versioned log —
    * the Delta/Iceberg read pattern re-expressed on plain parquet (no table
    * format jar offline, SURVEY X25): every write appends full rows tagged
    * with a monotonically increasing version; a read "as of v" filters
    * `version <= v` and keeps the per-key latest. Version 2 re-prices every
    * third order; the as-of-2 read must surface exactly those updates. */
  private def snapshotRead(spark: SparkSession, dir: String, asOf: Int): DataFrame = {
    val path = Sinks.tempDir("snapshot_log")
    val orders = Tables.orders(spark, dir)
    orders.select(col("o_orderkey"), col("o_totalprice"), lit(1).as("version"))
      .repartition(4).write.mode("overwrite").parquet(path)
    orders.where(col("o_orderkey") % 3 === 0)
      // +1000.0, not *1.1+round: identical doubles add identically in both
      // engines; row-level round() is engine-divergent on .xx5
      .select(col("o_orderkey"), (col("o_totalprice") + 1000.0).as("o_totalprice"),
        lit(2).as("version"))
      .repartition(4).write.mode("append").parquet(path)
    val log = ParquetDirect.read(spark, path).where(col("version") <= asOf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderkey").orderBy(col("version").desc)
    log.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("o_orderkey", "o_totalprice", "version")
      .orderBy("o_orderkey")
  }

  /** Small-file compaction — the lake-maintenance rewrite: a landing zone
    * fragmented into one file per arriving micro-batch is rewritten into a
    * few large files. Content must be byte-identical (the oracle re-derives
    * it from the source table); CompactionSpec asserts the file count
    * actually dropped. */
  def compact(spark: SparkSession, dir: String): (String, DataFrame) = {
    val fragmented = Sinks.tempDir("compact_in")
    val compacted = Sinks.tempDir("compact_out")
    Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
      .repartition(64) // the small-file problem, induced
      .write.mode("overwrite").parquet(fragmented)
    ParquetDirect.read(spark, fragmented)
      .coalesce(4) // no shuffle: files merge within existing partitions
      .write.mode("overwrite").parquet(compacted)
    (compacted, ParquetDirect.read(spark, compacted)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("user_id").as("user_sum"),
        round(sum("value"), 2).as("value_sum"))
      .orderBy("event_type"))
  }

  /** Defensive reads beyond FAILFAST (reference O8): PERMISSIVE mode with a
    * `_corrupt_record` column quarantines malformed rows instead of failing
    * the batch — the landing-zone posture when upstream producers can't be
    * trusted. The fixture is self-authored (3 valid + 2 broken JSON lines);
    * the result is the valid/corrupt split. */
  private def corruptRead(spark: SparkSession): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_corrupt")
    java.nio.file.Files.writeString(dir.resolve("batch.json"),
      """{"id": 1, "v": 10.0}
        |{"id": 2, "v": 20.0}
        |{"id": broken
        |{"id": 3, "v": 30.0}
        |not json at all""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType),
      StructField("_corrupt_record", StringType)))
    val read = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir.toString)
      .cache() // SPARK-21610: corrupt-column queries need the full row materialized
    read.agg(
      count(col("id")).as("n_valid"),
      count(col("_corrupt_record")).as("n_corrupt"),
      round(sum("v"), 2).as("v_sum"))
  }

  /** `binaryFile` source — the multimodal ingestion path: opaque files
    * (images/audio in production) land as (path, length, content BINARY)
    * rows. The fixture stages one file per document for the first five
    * docs (a bounded, ControlFile-style control-plane write; at scale the
    * files already exist in object storage and binaryFile lists them
    * distributedly). The read proves path/length/content fidelity:
    * byte length and md5 over the RAW BYTES must match the oracle's
    * UTF-8 view of the source text. */
  private def binarySource(spark: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_binsrc")
    Tables.documents(spark, dir).where(col("doc_id") < 5)
      .select("doc_id", "text").collect() // 5 rows: control-plane staging
      .foreach { r =>
        java.nio.file.Files.write(
          stage.resolve(s"doc_${r.getLong(0)}.txt"),
          r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    spark.read.format("binaryFile").load(stage.toString)
      .select(
        regexp_extract(col("path"), "doc_[0-9]+\\.txt", 0).as("fname"),
        col("length").as("byte_len"),
        md5(col("content")).as("content_fp"))
      .orderBy("fname")
  }

  /** Dynamic partition pruning — the 100 TB fact-table pattern: the fact
    * lands partitioned by month, the dim filter is only known at runtime,
    * and DPP turns the broadcast dim into a pruning subquery on the
    * partition column so only the selected months' files are READ (a
    * static plan would scan all 80 partitions). The plan-level guarantee
    * (`dynamicpruning` subquery present) is asserted in EngineSpec; this
    * key checks the result. */
  private def dppJoin(spark: SparkSession, dir: String): DataFrame = {
    val path = Sinks.tempDir("dpp_orders")
    // repartition on the partition column BEFORE the partitioned write:
    // otherwise every task writes into every month dir — up to
    // tasks × months tiny files (the small-file problem, self-inflicted)
    // pinned width: one encoder task per month (AQE folds the byte-light
    // month shuffle to ~1 task that writes all 80 month dirs serially)
    Tables.orders(spark, dir)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
        col("o_month"))
      .write.mode("overwrite").partitionBy("o_month").parquet(path)
    // the dim must be a FILTERED relation — DPP's rule requires a selective
    // predicate on the build side (a bare literal relation never triggers
    // it); a month dim with a runtime `pick` flag is the realistic shape
    val dimPath = Sinks.tempDir("dpp_dim")
    Tables.orders(spark, dir)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("o_month")).distinct()
      .withColumn("pick", when(col("o_month").isin("1996-03", "1997-07"), 1).otherwise(0))
      .write.mode("overwrite").parquet(dimPath)
    val dim = ParquetDirect.read(spark, dimPath).where(col("pick") === 1).select("o_month")
    ParquetDirect.read(spark, path)
      .join(broadcast(dim), "o_month")
      .groupBy("o_month")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_month")
  }

  /** Bucketed co-located join: both fact tables land bucketed (and
    * bucket-sorted) on the join key, so the sort-merge join consumes the
    * bucket layout directly — NO shuffle exchange below the join, the
    * pre-shuffled-storage pattern for repeated large-fact joins at 100 TB
    * (pay the shuffle once at write time, never per query). Plan-level
    * no-exchange guarantee asserted in BucketingSpec; this key checks the
    * result. */
  private def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    Seq("kb_orders", "kb_lineitem").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // an aborted run can leave the managed location behind post-DROP
      val d = new java.io.File(s"spark-warehouse/$t")
      if (d.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(d)
      }
    }
    // pre-spread each write to its bucket count (same murmur hash as the
    // bucket spec, so each task holds whole buckets): the single-split
    // scan would otherwise sort+encode all 8 bucket files in ONE task
    Tables.orders(spark, dir)
      .repartition(8, col("o_orderkey"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("kb_orders")
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_quantity")
      .repartition(8, col("l_orderkey"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("kb_lineitem")
    spark.table("kb_lineitem")
      .join(spark.table("kb_orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
      .orderBy("o_orderstatus")
  }

  /** 16-bit Morton spread: insert a zero between each bit (x → bit i of x
    * lands at bit 2i). Shift-and-mask only — engine-identical on BIGINT. */
  private def spread16(c: Column): Column = {
    var x = c.bitwiseAND(lit(0xFFFFL))
    x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
    x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x33333333L))
    x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Morton z-value of two 16-bit dimensions (even bits x, odd bits y). */
  private[graft] def zValue(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))

  /** DuckDB rendition of [[spread16]] (same shift-and-mask chain). */
  private def spread16Sql(e: String): String = {
    val s0 = s"(($e) & 65535)"
    val s1 = s"(($s0 | ($s0 << 8)) & 16711935)"
    val s2 = s"(($s1 | ($s1 << 4)) & 252645135)"
    val s3 = s"(($s2 | ($s2 << 2)) & 858993459)"
    s"(($s3 | ($s3 << 1)) & 1431655765)"
  }

  /** Z-order (Morton) multi-dimensional clustering key: interleave the bits
    * of two dimensions so that sorting by ONE integer keeps BOTH dimensions
    * locally bounded — the data-layout technique that lets min/max file
    * statistics prune 2-D predicates after a 1-D sort (Delta/Iceberg
    * OPTIMIZE ZORDER; here built from shift-and-mask expressions). The key
    * checks the curve math and its locality property: bucketing by the top
    * z-bits confines each dimension's span per bucket. The write-side
    * layout (repartitionByRange(z) + sortWithinPartitions, per-file spans
    * a fraction of the global span) is asserted in BucketingSpec. */
  private def zorder(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.orders(spark, dir).select(
      (col("o_custkey") % 65536).as("cx"),
      expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') AS BIGINT) % 65536")
        .as("dy"))
    df.withColumn("z", zValue(col("cx"), col("dy")))
      .groupBy(expr("z div 262144").as("z_bucket")) // top 14 interleaved bits
      .agg(count(lit(1)).as("n"),
        min("cx").as("min_cx"), max("cx").as("max_cx"),
        min("dy").as("min_dy"), max("dy").as("max_dy"))
      .orderBy("z_bucket")
  }

  /** Per-file (min, max) statistics of `statCol` — the Iceberg/Delta
    * manifest, derived here by one metadata-shaped aggregation (one row per
    * FILE: thousands of rows at 100 TB, not billions). */
  private[graft] def fileManifest(spark: SparkSession, path: String,
      statCol: String): DataFrame =
    ParquetDirect.read(spark, path)
      .groupBy(input_file_name().as("f"))
      .agg(min(statCol).as("lo"), max(statCol).as("hi"))

  /** Manifest (file-statistics) pruning — the lakehouse scan-planning
    * pattern: data lands range-clustered on the predicate column, a
    * manifest of per-file (min, max) answers "which files can contain
    * 1996?", and the query reads ONLY those. The file list is collected on
    * the driver — that is the control plane (the same thing Iceberg's
    * planner does with manifest files); the data plane never moves. The
    * oracle aggregates the whole table, so the check proves pruning lost
    * nothing; PruningSpec-style file-count reduction is asserted in
    * BucketingSpec. */
  private def statsPrune(spark: SparkSession, dir: String): DataFrame = {
    val path = Sinks.tempDir("stats_prune")
    Tables.orders(spark, dir)
      .repartitionByRange(8, col("o_orderdate"))
      .write.mode("overwrite").parquet(path)
    val sel = fileManifest(spark, path, "o_orderdate")
      .where(col("hi") >= lit("1996-01-01").cast("timestamp") &&
        col("lo") <= lit("1996-12-31 23:59:59").cast("timestamp"))
      .select("f").collect().map(_.getString(0))
    require(sel.nonEmpty, "manifest pruning selected no files")
    ParquetDirect.read(spark, sel.toIndexedSeq: _*)
      .where(year(col("o_orderdate")) === 1996)
      .groupBy(month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("m")
  }

  /** Partition-LAYOUT evolution (distinct from X25's column-schema
    * evolution): the table's first generation was laid out by week, a
    * later generation by day — the re-layout every growing lake performs
    * when coarse partitions stop pruning well. Readers must see ONE
    * logical table across generations: each generation is read with its
    * own partition scheme, normalized to a common projection, and
    * unioned; the differential oracle aggregates the SOURCE table, so a
    * hash match proves the two-layout union is lossless. At 100 TB this
    * is a metadata-only pattern — no rewrite of the old generation, and
    * partition pruning still works per-generation (week filters prune
    * gen-1 dirs, day filters prune gen-2). */
  private def partitionEvolution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      col("event_id"), col("event_type"), col("ts").cast("date").as("day"),
      expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("cents"))
    val cut = "2024-01-16" // the corpus spans one month; week→day re-layout
    val gen1 = graft.ingest.Sinks.tempDir("pe_weekly")
    val gen2 = graft.ingest.Sinks.tempDir("pe_daily")
    ev.withColumn("w", expr("datediff(day, DATE '2024-01-01') div 7"))
      .where(col("day") < lit(cut).cast("date"))
      .repartition(col("w"))
      .write.partitionBy("w").mode("overwrite").parquet(gen1)
    ev.where(col("day") >= lit(cut).cast("date"))
      .repartition(col("day"))
      .write.partitionBy("day").mode("overwrite").parquet(gen2)
    val g1 = ParquetDirect.read(spark, gen1)
      .select(col("event_id"), col("day").cast("date").as("day"), col("cents"))
    val g2 = ParquetDirect.read(spark, gen2)
      .select(col("event_id"), col("day").cast("date").as("day"), col("cents"))
    g1.unionByName(g2)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .orderBy("day")
  }

  /** X223: read through the DataSourceV2 connector (`graft.sources.v2`) —
    * the id-range predicates and the bucket equality push INTO the scan
    * (the served interval narrows to [5000, 150000) and the reader skips
    * other buckets), the projection prunes `tag` out of the reader's row,
    * and the 8 planned slices are the scan's executor parallelism. The
    * oracle rebuilds the deterministic table from DuckDB `range()`, so the
    * hash match proves the pushdown machinery never changes answers. */
  private def dsv2Scan(spark: SparkSession): DataFrame = {
    spark.read.format("graft-range")
      .option("start", 0L).option("end", 200000L).option("slices", 8)
      .load()
      .where(col("id") >= 5000 && col("id") < 150000 && col("bucket") === 3)
      .groupBy((col("id") % 7).as("g"))
      .agg(count(lit(1)).as("n"), sum("val").as("val_sum"),
        min("id").as("min_id"), max("id").as("max_id"))
      .orderBy("g")
  }

  /** X223b: the same connector answering through AGGREGATE pushdown
    * (`SupportsPushDownAggregates`, partial mode): each slice pre-aggregates
    * its interval and ships one row per bucket; Spark plans only the final
    * merge (sum-of-counts/sums, min-of-mins, max-of-maxes). The scan's
    * output is `slices × 16` rows, never the 200k-row interval —
    * `Dsv2SourceSpec` pins `agg=[…]` in the scan description. */
  private def dsv2Agg(spark: SparkSession): DataFrame = {
    spark.read.format("graft-range")
      .option("start", 0L).option("end", 200000L).option("slices", 8)
      .load()
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("val").as("val_sum"),
        min("id").as("min_id"), max("id").as("max_id"))
      .orderBy("bucket")
  }

  /** X230: dictionary-encoding audit — the storage-planning arithmetic
    * behind parquet's dictionary pages, surfaced as a query: per column,
    * the exact cost of encoding (distinct-value dictionary bytes + n·⌈log₂
    * |dict|⌉ bits of codes) against the raw UTF-8 bytes. Bit width uses
    * the `length(bin(x))` floor-log₂ idiom (libm-free — the ×10⁶/bin
    * exactness discipline). Two partial-first aggregates per column (full
    * rows, then distinct values); no joins, no windows. The ratio is what
    * a layout planner reads to choose dictionary vs plain encoding. */
  private def dictStats(df: DataFrame, colName: String): DataFrame = {
    val v = df.select(col(colName).cast("string").as("v"))
      .where(col("v").isNotNull)
    val rows = v.agg(count(lit(1)).as("n_rows"),
      sum(octet_length(col("v"))).as("raw_bytes"))
    val dict = v.distinct().agg(count(lit(1)).as("n_distinct"),
      sum(octet_length(col("v"))).as("dict_bytes"))
    rows.crossJoin(dict)
      .select(lit(colName).as("col_name"), col("n_rows"), col("raw_bytes"),
        col("n_distinct"), col("dict_bytes"),
        expr("CAST(length(bin(greatest(n_distinct - 1, 1))) AS BIGINT)")
          .as("bits_per_value"))
      .withColumn("enc_bytes",
        expr("(n_rows * bits_per_value + 7) div 8 + dict_bytes"))
      .withColumn("ratio_e6", expr("enc_bytes * 1000000 div raw_bytes"))
  }

  private def dictEncode(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val docs = Tables.documents(spark, dir)
    dictStats(ev, "event_type")
      .unionAll(dictStats(docs, "lang"))
      .unionAll(dictStats(docs, "source"))
      .orderBy("col_name")
  }

  /** X36e: Delta-format round-trip — two commits (initial write + append)
    * through [[DeltaLite]], read back at latest and aggregated; the oracle
    * aggregates the original parquet, so the table format must be lossless
    * end-to-end. */
  private def deltaRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_rt")
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
    DeltaLite.write(spark, ev.where(col("event_id") % 2 === 0), table)
    DeltaLite.write(spark, ev.where(col("event_id") % 2 === 1), table)
    DeltaLite.read(spark, table)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("user_id").as("user_sum"),
        round(sum("value"), 2).as("value_sum"))
      .orderBy("event_type")
  }

  /** X36f: Delta time travel — version 1 OVERWRITES (remove+add actions)
    * with repriced rows; reading `versionAsOf = 0` must surface the
    * pre-overwrite table, latest the repriced one. */
  private def deltaTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_tt")
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    DeltaLite.write(spark, o, table)
    val repriced = o.select(col("o_orderkey"),
      when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1000.0)
        .otherwise(col("o_totalprice")).as("o_totalprice"))
    DeltaLite.write(spark, repriced, table, overwrite = true)
    def summarize(df: DataFrame, v: Long) =
      df.agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .select(lit(v).as("version"), col("n"), col("total"))
    summarize(DeltaLite.read(spark, table, versionAsOf = 0L), 0L)
      .unionAll(summarize(DeltaLite.read(spark, table), 1L))
      .orderBy("version")
  }

  /** X36g: MERGE INTO on the versioned table — the upsert/delete contract
    * every CDC consumer needs from a table format: source rows carry an op
    * (`U` upsert / `D` delete), the merge is ONE full-outer equi-join on
    * the key (never a per-row loop), and the result commits as an
    * overwrite version so time travel still sees the pre-merge table.
    * Output is the post-merge aggregate plus genuinely computed audit
    * counts (inserted/updated/deleted — the x_cdc_apply discipline: the
    * oracle recomputes all five numbers from the raw table, so a lost or
    * double-applied row turns the key red). */
  /** X36m replanned (the r12 verdict's flagged scale-killer): MERGE via
    * [[DeltaLite.mergeInto]] — stats-planned touched files, O(touched)
    * rewrite, untouched files carried live (DeltaLiteSpec pins the
    * carry), delete/upsert in ONE commit. The counts come from the op
    * itself; the oracle reproduces the whole lifecycle relationally. */
  private def deltaMerge(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_mg")
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    DeltaLite.write(spark, o.where(col("o_orderkey") % 4 =!= 3), table,
      collectStats = true)
    // disjoint by construction: upserts hit even keys, deletes odd ones
    val src = o.where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"),
        (col("o_totalprice") + 500.0).as("o_totalprice"), lit("U").as("op"))
      .unionAll(o.where(col("o_orderkey") % 8 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), lit("D").as("op")))
    val (_, nUpd, nDel, nIns) = DeltaLite.mergeInto(spark, table, src,
      "o_orderkey", deleteWhen = Some(col("op") === "D"))
    DeltaLite.read(spark, table)
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("n_inserted", lit(nIns))
      .withColumn("n_updated", lit(nUpd))
      .withColumn("n_deleted", lit(nDel))
  }

  /** X36m + CDF: a MERGE on a change-data-feed table stages its row-level
    * changes in the commit — `update_preimage`/`update_postimage` for
    * matched upserts, `delete`/`insert` for the rest — so the feed slice
    * serves the merge at ROW grain (the derive-from-add/remove fallback
    * would surface every carried survivor row as churn). The key reads
    * the feed back grouped by change type; the oracle reproduces each
    * class from the source relation. */
  private def deltaMergeCdf(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_mg_cdf")
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    // base EXCLUDES k%8==0 so the even upserts split into real updates
    // (matched) AND real inserts (the k%8==0 evens)
    DeltaLite.write(spark, o.where(col("o_orderkey") % 4 =!= 3 &&
      col("o_orderkey") % 8 =!= 0), table,
      collectStats = true) // v0
    DeltaLite.enableCdf(spark, table) // v1
    val src = o.where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"),
        (col("o_totalprice") + 500.0).as("o_totalprice"), lit("U").as("op"))
      .unionAll(o.where(col("o_orderkey") % 8 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), lit("D").as("op")))
    DeltaLite.mergeInto(spark, table, src, "o_orderkey",
      deleteWhen = Some(col("op") === "D")) // v2, row-level change data
    DeltaLite.readCdf(spark, table, 1L, 2L)
      .groupBy(col("_change_type"))
      .agg(count(lit(1)).as("n"),
        sum("o_orderkey").as("key_sum"),
        round(sum("o_totalprice"), 2).as("price_sum"))
      .orderBy("_change_type")
      .select("_change_type", "n", "key_sum", "price_sum")
  }

  /** X36h: incremental (changes-between-versions) read — a downstream
    * consumer reads ONLY the files version 1 appended, never rescanning
    * the base. */
  private def deltaIncremental(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_inc")
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
    DeltaLite.write(spark, ev.where(col("event_id") % 2 === 0), table)
    DeltaLite.write(spark, ev.where(col("event_id") % 2 === 1), table)
    DeltaLite.readChanges(spark, table, fromV = 0L, toV = 1L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("user_id").as("user_sum"),
        round(sum("value"), 2).as("value_sum"))
      .orderBy("event_type")
  }

  /** X36k: Delta checkpoint — the log-scalability contract: after 3
    * appends the table checkpoints at version 2 and EXPIRES the subsumed
    * JSON commits (0 and 1 are deleted), then a 4th quarter appends as
    * version 3. The current read can only succeed through the checkpoint
    * (a full JSON replay would hit the deleted files), and the surfaced
    * stats — checkpoint version used, JSON commits replayed — are
    * genuinely computed by the snapshot assembly, so a silently-ignored
    * checkpoint turns the key red. At scale this is O(commits-since-
    * checkpoint) per read instead of O(all commits). */
  private def deltaCheckpoint(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_cp")
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
    (0 until 3).foreach(q =>
      DeltaLite.write(spark, ev.where(col("event_id") % 4 === q), table))
    DeltaLite.checkpoint(spark, table)
    DeltaLite.expireLog(spark, table)
    DeltaLite.write(spark, ev.where(col("event_id") % 4 === 3), table)
    val (df, snap) = DeltaLite.readWithStats(spark, table)
    df.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("user_id").as("user_sum"),
        round(sum("value"), 2).as("value_sum"))
      .withColumn("checkpoint_version", lit(snap.checkpointVersion))
      .withColumn("n_json_replayed", lit(snap.jsonReplayed))
      .orderBy("event_type")
  }

  /** X36l: Delta vacuum — physical cleanup of overwrite tombstones: the
    * overwrite at version 1 leaves version 0's two files (writes pinned
    * to `repartition(2)`) unreferenced; vacuum deletes exactly those, the
    * current read is byte-identical after, and the deleted/remaining
    * counts are computed from the actual filesystem walk. */
  private def deltaVacuum(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_vac")
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    DeltaLite.write(spark, o.repartition(2), table)
    val repriced = o.select(col("o_orderkey"),
      when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1000.0)
        .otherwise(col("o_totalprice")).as("o_totalprice"))
    DeltaLite.write(spark, repriced.repartition(2), table, overwrite = true)
    val deleted = DeltaLite.vacuum(spark, table)
    val (df, snap) = DeltaLite.readWithStats(spark, table)
    df.agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("n_files_deleted", lit(deleted))
      .withColumn("n_files_remaining", lit(snap.files.size.toLong))
  }

  /** X261: Iceberg-format round-trip — the [[DeltaLite]] contract on the
    * second major table format: two snapshots (initial + append, the
    * append REUSING the first snapshot's manifest by reference), read at
    * current and aggregated against the parquet oracle. */
  private def icebergRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("iceberg_rt")
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
    IcebergLite.write(spark, ev.where(col("event_id") % 2 === 0), table)
    IcebergLite.write(spark, ev.where(col("event_id") % 2 === 1), table)
    IcebergLite.read(spark, table)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("user_id").as("user_sum"),
        round(sum("value"), 2).as("value_sum"))
      .orderBy("event_type")
  }

  /** X261b: Iceberg snapshot time travel — snapshot 2 overwrites with
    * repriced rows; reading snapshot 1 must surface the original table. */
  private def icebergTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("iceberg_tt")
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    IcebergLite.write(spark, o, table)
    val repriced = o.select(col("o_orderkey"),
      when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1000.0)
        .otherwise(col("o_totalprice")).as("o_totalprice"))
    IcebergLite.write(spark, repriced, table, overwrite = true)
    def summarize(df: DataFrame, v: Long) =
      df.agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .select(lit(v).as("version"), col("n"), col("total"))
    summarize(IcebergLite.read(spark, table, snapshotId = 1L), 0L)
      .unionAll(summarize(IcebergLite.read(spark, table), 1L))
      .orderBy("version")
  }

  /** X261c: Iceberg incremental read — the files snapshot 2 appended,
    * straight off the manifest list's added_snapshot_id. */
  private def icebergIncremental(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("iceberg_inc")
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
    IcebergLite.write(spark, ev.where(col("event_id") % 2 === 0), table)
    IcebergLite.write(spark, ev.where(col("event_id") % 2 === 1), table)
    IcebergLite.readChanges(spark, table, fromSnap = 1L, toSnap = 2L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("user_id").as("user_sum"),
        round(sum("value"), 2).as("value_sum"))
      .orderBy("event_type")
  }

  /** X36v: Delta CHECK constraints (PROTOCOL.md §CHECK Constraints) —
    * data-quality enforcement at the COMMIT boundary, the lake-side
    * answer to a warehouse's schema constraints: the predicate lands in
    * metaData.configuration as a metadata-only commit carrying the
    * writer-3 protocol requirement; every later write validates incoming
    * rows BEFORE staging and refuses with the violating count; a
    * constraint current rows violate refuses at ADD time. The key proves
    * enforcement by aggregate: the violating batch's rows are absent,
    * the valid batch's present. */
  private def deltaConstraints(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_chk_q")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    DeltaLite.write(spark, o.where(col("o_orderkey") % 2 === 0), table)
    DeltaLite.addConstraint(spark, table, "pos_price", "o_totalprice > 0")
    val rejectedBefore =
      try { DeltaLite.addConstraint(spark, table, "impossible",
        "o_totalprice > 1e12"); false }
      catch { case _: IllegalArgumentException => true }
    // the valid half commits; a poisoned batch (negated prices) refuses
    DeltaLite.write(spark, o.where(col("o_orderkey") % 2 === 1), table)
    val rejectedWrite =
      try { DeltaLite.write(spark,
        o.limit(5).select(col("o_orderkey"),
          (col("o_totalprice") * -1).as("o_totalprice"),
          col("o_orderpriority")), table); false }
      catch { case _: IllegalArgumentException => true }
    DeltaLite.read(spark, table)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("rejected_backfill", lit(rejectedBefore))
      .withColumn("rejected_write", lit(rejectedWrite))
      .orderBy("o_orderpriority")
  }

  /** X36w: Delta CHANGE DATA FEED — row-level change tracking
    * (PROTOCOL.md §Add CDC File): after `enableCdf`, a plain append's
    * inserts DERIVE from its add actions, while DELETE and UPDATE commits
    * stage their changed rows under `_change_data/` with `cdc` actions —
    * preimage AND postimage for updates, the pair a downstream
    * incremental MERGE consumer needs. The key replays the whole feed
    * (insert / delete / update_preimage / update_postimage) and pins each
    * change type's row count, value sum, and commit version against the
    * source relation — at 100 TB the feed ships kilobytes of changed
    * rows, never a table diff. */
  private def deltaCdf(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_cdf")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    DeltaLite.write(spark, o.where(col("o_orderkey") % 4 =!= 3), table,
      collectStats = true)                                     // v0 base
    DeltaLite.enableCdf(spark, table)                          // v1 metadata
    DeltaLite.write(spark, o.where(col("o_orderkey") % 4 === 3), table,
      collectStats = true)                                     // v2 inserts
    DeltaLite.deleteWhere(spark, table, "o_orderkey", 1L, 800L) // v3 deletes
    DeltaLite.updateWhere(spark, table, "o_orderkey", 801L, 2000L,
      Map("o_totalprice" -> (col("o_totalprice") + lit(100.0)))) // v4 updates
    DeltaLite.readCdf(spark, table, 1L,
        DeltaLite.latestVersion(spark, table))
      .groupBy("_change_type")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"),
        max("_commit_version").as("ver"))
      .orderBy("_change_type")
  }

  /** X36u: Delta COLUMN MAPPING, name mode (PROTOCOL.md §Column Mapping)
    * — logical names decoupled from physical parquet names, making RENAME
    * and DROP metadata-only commits (one JSON line instead of a 100 TB
    * rewrite). The key creates a mapped table, appends, renames
    * o_totalprice → price and drops o_orderpriority (both metadata-only —
    * `files_moved` pins that the live data-file set never changed), then
    * aggregates under the NEW logical names; `old_name_at_v1` proves the
    * pre-rename version still time-travels under its own schema. */
  private def deltaColumnMapping(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_cm")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    DeltaLite.writeColumnMapped(spark, o.where(col("o_orderkey") % 2 === 0), table)
    DeltaLite.writeColumnMapped(spark, o.where(col("o_orderkey") % 2 === 1), table)
    val filesBefore = DeltaLite.readWithStats(spark, table)._2.files.toSet
    DeltaLite.renameColumn(spark, table, "o_totalprice", "price")
    DeltaLite.dropColumn(spark, table, "o_orderpriority")
    val filesAfter = DeltaLite.readWithStats(spark, table)._2.files.toSet
    val oldNameAtV1 = DeltaLite.read(spark, table, versionAsOf = 1L)
      .schema.fieldNames.contains("o_totalprice")
    // REORG purge: the dropped column's bytes physically leave storage
    // (dataChange=false rewrite under the current mapping); logical rows
    // identical — the aggregate below reads the purged files
    DeltaLite.reorgPurge(spark, table, targetFiles = 2)
    // footer-only sniff: driver parquet metadata read, no Spark job
    val purged = DeltaLite.readWithStats(spark, table)._2.files.forall(f =>
      ParquetDirect.footerSchema(spark, s"$table/$f").length == 2)
    DeltaLite.read(spark, table)
      .agg(count(lit(1)).as("n"), round(sum("price"), 2).as("total_price"))
      .withColumn("files_moved", lit((filesAfter != filesBefore)))
      .withColumn("old_name_at_v1", lit(oldNameAtV1))
      .withColumn("purged", lit(purged))
  }

  /** X261n: Iceberg REFS — tag a snapshot, expire with keepLast = 1, and
    * the tagged snapshot SURVIVES retention (the spec's ref-retention
    * rule — a tag exists precisely to outlive routine expiration) while
    * the untagged middle snapshot is swept; the aggregate reads the TAG
    * (the even-keys half), `expired` pins that exactly one snapshot
    * left, and `main_rows` pins the main branch tracking the head. */
  private def icebergRefs(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("ice_refs_q")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    // three DISJOINT appends, so the main branch holds every key once
    IcebergLite.write(spark, o.where(col("o_orderkey") % 2 === 0), table)
    IcebergLite.write(spark,
      o.where(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 3 === 0), table)
    IcebergLite.write(spark,
      o.where(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 3 =!= 0), table)
    IcebergLite.setRef(spark, table, "v1.0", snapshotId = 1L)
    val (expired, _) = IcebergLite.expireSnapshots(spark, table, keepLast = 1)
    val mainRows = IcebergLite.readRef(spark, table, "main").count()
    IcebergLite.readRef(spark, table, "v1.0")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("expired", lit(expired))
      .withColumn("main_rows", lit(mainRows))
      .orderBy("o_orderpriority")
  }

  /** X261m: Iceberg v2 EQUALITY DELETES — the streaming-upsert delete
    * kind (spec §Row-level deletes, content = 2): the writer commits only
    * the VALUE LIST (no table scan at delete time), readers suppress
    * matching rows in data files with sequence STRICTLY below the
    * delete's, so the row re-appended AFTER the delete survives with its
    * new price — the CDC upsert semantics the kind exists for. */
  private def icebergEqDelete(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("ice_eqdel_q")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    IcebergLite.write(spark,
      o.where(col("o_orderkey") % 2 === 0).repartition(2), table)
    IcebergLite.write(spark,
      o.where(col("o_orderkey") % 2 === 1).repartition(2), table)
    val (_, nVals) = IcebergLite.deleteWhereEquality(spark, table,
      "o_orderkey", (1L to 200L).toSeq)
    // upsert the smallest key back with a repriced row — it must survive
    // the (earlier) equality delete
    IcebergLite.write(spark,
      o.where(col("o_orderkey") === 1L)
        .select(col("o_orderkey"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"),
          col("o_orderpriority")), table)
    IcebergLite.read(spark, table)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("values_written", lit(nVals))
      .orderBy("o_orderpriority")
  }

  /** X305: COMPOSITE-KEY equality deletes — the tuple shape CDC upsert
    * writers actually produce (a Flink primary key is rarely one
    * column). The delete file stores (o_orderkey, o_orderpriority)
    * tuples; a row is suppressed only when BOTH columns match the SAME
    * tuple — keys ≤ 1000 with a non-urgent priority survive, which a
    * per-column matcher would have over-deleted (that's what the oracle
    * pins). Sequence gating unchanged: the one urgent row re-appended
    * AFTER the delete survives with its new price. */
  private def icebergEqDeleteMulti(spark: SparkSession,
      dir: String): DataFrame = {
    val table = Sinks.tempDir("ice_eqdelm_q")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    IcebergLite.write(spark, o.repartition(2), table)
    // the delete stream: key tuples, NOT a table scan (tuples matching
    // nothing are harmless — the writer never looks)
    val tuples = spark.range(1, 1001)
      .select(col("id").as("o_orderkey"),
        lit("1-URGENT").as("o_orderpriority"))
    val (_, nTuples) =
      IcebergLite.deleteWhereEqualityRows(spark, table, tuples)
    // upsert one deleted row back — its higher data sequence exempts it
    val reins = o
      .where(col("o_orderkey") <= 1000 &&
        col("o_orderpriority") === "1-URGENT")
      .orderBy("o_orderkey").limit(1)
      .select(col("o_orderkey"),
        (col("o_totalprice") + 5000.0).as("o_totalprice"),
        col("o_orderpriority"))
    IcebergLite.write(spark, reins, table)
    IcebergLite.read(spark, table)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("tuples_written", lit(nTuples))
      .orderBy("o_orderpriority")
  }

  /** X310: Iceberg v3 DELETION VECTORS — position deletes move from
    * parquet files into Puffin `deletion-vector-v1` blobs (one vector
    * per data file; v3 shares the 64-bit portable RoaringBitmap layout
    * with Delta's DVs, which this engine already frames): a DELETE
    * writes KILOBYTES (no parquet delete file, no data rewrite — the
    * only delete artifact is the .puffin carrier, pinned), an
    * overlapping second DELETE merges into a SUPERSET vector
    * (newest-wins at read), re-appended rows survive by sequence, and
    * rewriteDataFiles materializes the vectors away (pinned: delete
    * file set empty after, census unchanged). */
  private def icebergDvPuffin(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("ice_dv3_q")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    IcebergLite.write(spark, o.repartition(2), table)
    IcebergLite.upgradeFormatVersion(spark, table, 3)
    val (s2, _) = IcebergLite.deleteWhereDV(spark, table,
      "o_orderkey", 1L, 700L)
    val delFiles = IcebergLite.snapshotDeleteFiles(spark, table, -1L)
    val puffinOnly = delFiles.nonEmpty && delFiles.forall(_.endsWith(".puffin"))
    // overlapping second vector: superset merge, newest wins
    val (s3, _) = IcebergLite.deleteWhereDV(spark, table,
      "o_orderkey", 600L, 900L)
    // time travel below it sees only the first vector's masking
    val ttRows = IcebergLite.read(spark, table, s2).count()
    // the changelog over the superset vector announces ONLY the fresh
    // deletions — keys in (700, 900] (the [600,700] overlap was dead)
    val cdfFresh = IcebergLite.readChangelog(spark, table, s2, s3)
      .where(col("_change_type") === "delete").count()
    // sequence gating: re-appended keys survive the older vectors
    IcebergLite.write(spark, o.where(col("o_orderkey") <= 50), table)
    // compaction materializes the vectors away
    IcebergLite.rewriteDataFiles(spark, table)
    val deletesGone =
      IcebergLite.snapshotDeleteFiles(spark, table, -1L).isEmpty
    IcebergLite.read(spark, table)
      .groupBy(col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("puffin_only", lit(puffinOnly))
      .withColumn("deletes_gone", lit(deletesGone))
      .withColumn("tt_rows", lit(ttRows))
      .withColumn("cdf_fresh", lit(cdfFresh))
      .orderBy("prio")
  }

  /** X261l: ancestry-walking Iceberg incremental read — the range crosses
    * a `replace` (rewriteDataFiles) snapshot, which the manifest-list-diff
    * feed ([[icebergIncremental]]) must refuse (file attribution off the
    * CURRENT list breaks once a replace rewrote it). The ancestry walk
    * attributes each snapshot's rows off its OWN retained manifest list:
    * appends before AND after the compaction land in the feed exactly
    * once, the replace contributes nothing. Both the tolerant result and
    * the legacy refusal are pinned. */
  private def icebergIncrReplace(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("iceberg_incr_rpl")
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
    IcebergLite.write(spark, ev.where(col("event_id") % 3 === 0), table)
    IcebergLite.write(spark, ev.where(col("event_id") % 3 === 1), table)
    IcebergLite.rewriteDataFiles(spark, table) // snapshot 3: replace
    IcebergLite.write(spark, ev.where(col("event_id") % 3 === 2), table)
    val legacyRefuses =
      try { IcebergLite.readChanges(spark, table, 1L, 4L); false }
      catch { case _: UnsupportedOperationException => true }
    IcebergLite.readChangesAncestry(spark, table, fromSnap = 1L, toSnap = 4L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("user_id").as("user_sum"),
        round(sum("value"), 2).as("value_sum"))
      .withColumn("legacy_refuses", lit(legacyRefuses))
      .orderBy("event_type")
  }

  /** X36m: Delta data skipping off the log's `stats` layer — four
    * appends, each a contiguous quarter of the o_orderkey range staged as
    * one file with `collectStats = true` (per-file numRecords + min/max
    * committed into the add actions). The [1, max/4] range query is
    * planned off the LOG alone — no footer opened — and the matched scan
    * carries NO row filter: answer correctness is the skipping proof
    * (each file holds exactly its key quarter by construction).
    * files_scanned/files_total come from the actual stats walk. */
  private def deltaSkipping(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_skip")
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    // control-plane scalar (the JDBC-bounds discipline): the slice edges
    val mx = o.agg(max("o_orderkey")).collect()(0).getLong(0)
    val q = mx / 4
    val bounds = Seq((0L, q), (q + 1, 2 * q), (2 * q + 1, 3 * q), (3 * q + 1, mx))
    bounds.foreach { case (lo, hi) =>
      DeltaLite.write(spark,
        o.where(col("o_orderkey").between(lo, hi)).repartition(1), table,
        collectStats = true)
    }
    val (files, matched, total) = DeltaLite.planSkipping(
      spark, table, "o_orderkey", lo = 0L, hi = q)
    ParquetDirect.read(spark, files.map(f => s"$table/$f"): _*)
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("files_scanned", lit(matched))
      .withColumn("files_total", lit(total))
  }

  /** X36p: DESCRIBE HISTORY — the table's commit provenance off the
    * commitInfo actions: append (2 pinned files), append (1), overwrite
    * (1 add, 3 removes), restore to v1 (re-adds the 3, removes the
    * overwrite's 1). Every count is read from the actual log. */
  private def deltaHistory(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_hist")
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    DeltaLite.write(spark, o.where(col("o_orderkey") % 2 === 0).repartition(2), table)
    DeltaLite.write(spark, o.where(col("o_orderkey") % 2 === 1).repartition(1), table)
    DeltaLite.write(spark, o.repartition(1), table, overwrite = true)
    DeltaLite.restore(spark, table, toVersion = 1L)
    DeltaLite.history(spark, table).orderBy("version")
  }

  /** X36q: Delta OPTIMIZE — four single-file commits bin-packed into ONE
    * file in one dataChange=false commit; the aggregate is byte-identical
    * pre/post and the file counts come from the optimize return (counted,
    * not asserted). The maintenance op that keeps a streaming-ingest
    * table's file count bounded at 100 TB. */
  private def deltaOptimize(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_opt")
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    val mx = o.agg(max("o_orderkey")).collect()(0).getLong(0)
    val q = mx / 4
    Seq((0L, q), (q + 1, 2 * q), (2 * q + 1, 3 * q), (3 * q + 1, mx)).foreach {
      case (lo, hi) =>
        DeltaLite.write(spark,
          o.where(col("o_orderkey").between(lo, hi)).repartition(1), table,
          collectStats = true)
    }
    val (_, nBefore, nAfter) = DeltaLite.optimize(spark, table)
    DeltaLite.read(spark, table)
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("n_files_before", lit(nBefore))
      .withColumn("n_files_after", lit(nAfter))
  }

  /** X36r: partitioned Delta table — the layout 100 TB tables actually
    * use: partitionValues in the add actions (one per o_orderpriority,
    * incl. '4-NOT SPECIFIED', whose space exercises the Hive escaping
    * roundtrip), planPartitioned prunes scans off the LOG alone, and the
    * pruned read carries NO row filter — equality with the oracle's
    * filtered aggregate is the pruning proof. */
  private def deltaPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_part")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    DeltaLite.writePartitioned(spark, o, table, "o_orderpriority",
      collectStats = true)
    val wanted = Set("1-URGENT", "4-NOT SPECIFIED")
    val (files, matched, total) =
      DeltaLite.planPartitioned(spark, table, "o_orderpriority", wanted)
    ParquetDirect.read(spark, files.map(f => s"$table/$f"): _*)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("files_scanned", lit(matched))
      .withColumn("files_total", lit(total))
      .orderBy("o_orderpriority")
  }

  /** X36s: Delta OPTIMIZE ZORDER BY — compaction that re-clusters on the
    * Morton interleave of (cx, dy) so the per-file stats prune BOX
    * predicates on both dimensions: plan the box via two planSkipping
    * walks (one per column), read only the INTERSECTED files, and prove
    * both the pruning (files_scanned < files_total, a Z-order property a
    * hash layout does not have) and the answer (row-filtered aggregate ==
    * the oracle's whole-table filter). */
  private def deltaZorder(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_zord")
    val d = Tables.orders(spark, dir).select(
      col("o_orderkey"),
      (col("o_custkey") % 65536).as("cx"),
      expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') AS BIGINT) % 65536")
        .as("dy"),
      col("o_totalprice"))
    DeltaLite.write(spark, d.repartition(4), table, collectStats = true)
    val (_, _, nAfter) = DeltaLite.optimizeZorder(spark, table, "cx", "dy", 4)
    // the box is SF-robust: custkey (so cx) scales with SF, day offsets
    // don't — [10, 60] × [100, 400] is non-empty from sf0.001 up
    val (fx, _, total) = DeltaLite.planSkipping(spark, table, "cx", 10L, 60L)
    val (fy, _, _) = DeltaLite.planSkipping(spark, table, "dy", 100L, 400L)
    val sel = fx.toSet.intersect(fy.toSet).toSeq.sorted
    // empty intersection = planner proved no file can match; reading
    // everything is the conservative equivalent (skipping is an
    // optimization, never a filter)
    val files = if (sel.nonEmpty) sel else fx ++ fy
    require(files.nonEmpty, "z-order table has no files")
    ParquetDirect.read(spark, files.map(f => s"$table/$f"): _*)
      .where(col("cx").between(10, 60) && col("dy").between(100, 400))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("pruned",
        lit(if (sel.size < nAfter) 1L else 0L))
      .withColumn("files_total", lit(total))
  }

  /** X36r (widened r10): per-partition OPTIMIZE on the partitioned
    * layout — two partitioned commits leave 2 files per priority (10
    * total); optimize compacts WITHIN partitions to 5, partitionValues
    * survive (the pruned read still works, NO row filter), and the
    * per-priority aggregate is byte-identical. */
  private def deltaOptimizePartitioned(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_popt")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    DeltaLite.writePartitioned(spark,
      o.where(col("o_orderkey") % 2 === 0), table, "o_orderpriority")
    DeltaLite.writePartitioned(spark,
      o.where(col("o_orderkey") % 2 === 1), table, "o_orderpriority")
    val (_, nBefore, nAfter) = DeltaLite.optimize(spark, table)
    val wanted = Set("1-URGENT", "4-NOT SPECIFIED")
    val (files, matched, _) =
      DeltaLite.planPartitioned(spark, table, "o_orderpriority", wanted)
    ParquetDirect.read(spark, files.map(f => s"$table/$f"): _*)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("files_scanned", lit(matched))
      .withColumn("n_files_before", lit(nBefore))
      .withColumn("n_files_after", lit(nAfter))
      .orderBy("o_orderpriority")
  }

  /** X261j: Iceberg rewriteDataFiles — [[deltaOptimize]]'s parity op:
    * four single-file snapshots bin-packed into one `replace` snapshot;
    * aggregate byte-identical, counts from the rewrite return. */
  private def icebergOptimize(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("ice_opt")
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    val mx = o.agg(max("o_orderkey")).collect()(0).getLong(0)
    val q = mx / 4
    Seq((0L, q), (q + 1, 2 * q), (2 * q + 1, 3 * q), (3 * q + 1, mx)).foreach {
      case (lo, hi) =>
        IcebergLite.write(spark,
          o.where(col("o_orderkey").between(lo, hi)).repartition(1), table)
    }
    val (_, nBefore, nAfter) = IcebergLite.rewriteDataFiles(spark, table)
    IcebergLite.read(spark, table)
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("n_files_before", lit(nBefore))
      .withColumn("n_files_after", lit(nAfter))
  }

  /** X261k: Iceberg v2 POSITION DELETES — merge-on-read row removal
    * (iceberg.apache.org/spec §Row-level deletes), [[deltaDv]]'s parity
    * surface: two overlapping range deletes leave every data file
    * physically untouched and commit (file_path, pos) delete files under
    * content=1 DELETE manifests instead; the second delete counts only
    * NEWLY-live rows (the scan that plans it is itself merge-on-read),
    * reads apply deletes with sequence-number gating, and the pre-delete
    * snapshot still time-travels to the full count. `files_unchanged`
    * pins the no-rewrite property on the live DATA-file set. */
  private def icebergDv(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("ice_dv")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val mx = o.agg(max("o_orderkey")).collect()(0).getLong(0)
    val q = mx / 4
    // two hash-spread commits: every file mixes key ranges, so deletes
    // hit PARTIAL files (never whole-file drops)
    IcebergLite.write(spark,
      o.where(col("o_orderkey") % 2 === 0).repartition(2), table)
    IcebergLite.write(spark,
      o.where(col("o_orderkey") % 2 === 1).repartition(2), table)
    val preSid = 2L
    val filesBefore = IcebergLite.snapshotFiles(spark, table, -1L).toSet
    val (_, del1) = IcebergLite.deleteWhere(spark, table, "o_orderkey", q, 2 * q)
    val (_, del2) =
      IcebergLite.deleteWhere(spark, table, "o_orderkey", 3 * q / 2, 5 * q / 2)
    val filesAfter = IcebergLite.snapshotFiles(spark, table, -1L).toSet
    val rowsBefore = IcebergLite.read(spark, table, preSid).count()
    IcebergLite.read(spark, table)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("rows_deleted_1", lit(del1))
      .withColumn("rows_deleted_2", lit(del2))
      .withColumn("rows_before", lit(rowsBefore))
      .withColumn("files_unchanged", lit(filesAfter == filesBefore))
      .orderBy("o_orderpriority")
  }

  /** X261u: Iceberg `partitions` METADATA TABLE — per-partition file and
    * record inventory recounted from the manifest layer of a REAL
    * hidden-partitioned table (two commits → two files per value): the
    * layout-health view (skew, small-file pressure) at O(manifests)
    * metadata cost, no data-file open. */
  private def icebergPartitionsTable(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("ice_parts")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val spec = Some(IcebergLite.PartField.truncate("o_orderpriority", 1))
    IcebergLite.write(spark, o.where(col("o_orderkey") % 2 === 0), table,
      partitionField = spec)
    IcebergLite.write(spark, o.where(col("o_orderkey") % 2 === 1), table,
      partitionField = spec)
    IcebergLite.metadataTable(spark, table, "partitions")
  }

  /** X36y: Delta APPEND-ONLY tables (`delta.appendOnly`) — the writer-2
    * invariant enforced at every remove-shaped entry point: after the
    * property lands, appends still commit, row-level DELETE and OVERWRITE
    * refuse (the two booleans are genuinely caught refusals), and the
    * dataChange=false rewrite (OPTIMIZE) stays legal — the final
    * aggregate reads through the compacted, fully-appended table. */
  private def deltaAppendOnly(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_ao")
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    DeltaLite.write(spark, o.where(col("o_orderkey") % 2 === 0).repartition(2),
      table, collectStats = true)
    DeltaLite.setAppendOnly(spark, table)
    DeltaLite.write(spark, o.where(col("o_orderkey") % 2 === 1).repartition(2),
      table, collectStats = true)
    val deleteRefused =
      try { DeltaLite.deleteWhere(spark, table, "o_orderkey", 0L, 10L); false }
      catch { case _: UnsupportedOperationException => true }
    val overwriteRefused =
      try { DeltaLite.write(spark, o.limit(1), table, overwrite = true); false }
      catch { case _: UnsupportedOperationException => true }
    val (_, _, nAfter) = DeltaLite.optimize(spark, table)
    DeltaLite.read(spark, table)
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("delete_refused", lit(deleteRefused))
      .withColumn("overwrite_refused", lit(overwriteRefused))
      .withColumn("files_after_optimize", lit(nAfter))
  }

  /** X261t: Iceberg SORT ORDERS — the declaration is metadata intent, the
    * payoff is measured: on the hash-spread layout every file spans the
    * full key range so bounds pruning keeps all 4 (`kept_before`); after
    * `setSortOrder` + the sorted rewrite (range-clustered files, bounds
    * recorded), the same [0, max/8] probe keeps fewer files
    * (`skipping_improved`), and the full read is byte-identical (the
    * aggregate equality). */
  private def icebergSortOrder(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("ice_sort")
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    val mx = o.agg(max("o_orderkey")).collect()(0).getLong(0)
    IcebergLite.write(spark, o.repartition(4), table,
      boundsColumn = Some("o_orderkey"))
    val (_, kept0, total0) = IcebergLite.planBounds(spark, table, 0L, mx / 8)
    IcebergLite.setSortOrder(spark, table, "o_orderkey")
    IcebergLite.rewriteDataFiles(spark, table, targetFiles = 4)
    val (_, kept1, total1) = IcebergLite.planBounds(spark, table, 0L, mx / 8)
    IcebergLite.read(spark, table)
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("kept_before", lit(kept0))
      .withColumn("files_total", lit(total0))
      .withColumn("files_after", lit(total1))
      .withColumn("skipping_improved", lit(kept1 < kept0))
  }

  /** X261s: Iceberg WRITE-AUDIT-PUBLISH — the branch workflow production
    * ingest actually runs: batch 2 stages on the `audit` branch (readable
    * via the ref, INVISIBLE to main — `rows_main_during_audit` pins it),
    * the audit passes and main fast-forwards; a bad batch stages on
    * `reject`, is dropped unpublished, and expiration SWEEPS it while the
    * ref-pointed audit snapshot survives — its rows never reach main
    * (the aggregate equality is that proof). */
  private def icebergWap(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("ice_wap")
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
    IcebergLite.write(spark, ev.where(col("event_id") % 3 === 0), table)
    IcebergLite.write(spark, ev.where(col("event_id") % 3 === 1), table,
      toBranch = Some("audit"))
    val mainDuringAudit = IcebergLite.read(spark, table).count()
    val staged = IcebergLite.readRef(spark, table, "audit").count()
    IcebergLite.fastForward(spark, table, "audit")
    IcebergLite.write(spark, ev.where(col("event_id") % 3 === 2), table,
      toBranch = Some("reject"))
    IcebergLite.dropRef(spark, table, "reject")
    IcebergLite.write(spark,
      ev.where(col("event_id") % 3 === 2 && col("user_id") % 2 === 0), table)
    val (nExpired, _) = IcebergLite.expireSnapshots(spark, table, keepLast = 1)
    IcebergLite.read(spark, table)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("user_id").as("user_sum"),
        round(sum("value"), 2).as("value_sum"))
      .withColumn("rows_main_during_audit", lit(mainDuringAudit))
      .withColumn("rows_staged", lit(staged))
      .withColumn("snapshots_expired", lit(nExpired))
      .orderBy("event_type")
  }

  /** X261r: Iceberg PARTITION SPEC EVOLUTION — phase 1 lands under
    * truncate(priority, 1), the spec evolves, phase 2 lands under
    * truncate(priority, 3); NOTHING is rewritten. The plan for a wanted
    * set expressed in the CURRENT spec's values prunes each manifest
    * under its OWN spec (old files via the width-1 residual, new files
    * exactly), and the planned scan carries NO row filter — equality with
    * the filtered oracle proves both residuals pruned correctly. The
    * file counts are genuinely computed by the planner. */
  private def icebergSpecEvolution(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("ice_specevo")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    IcebergLite.write(spark, o.where(col("o_orderkey") % 2 === 1), table,
      partitionField = Some(IcebergLite.PartField.truncate("o_orderpriority", 1)))
    IcebergLite.evolvePartitionSpec(spark, table,
      Some(IcebergLite.PartField.truncate("o_orderpriority", 3)))
    IcebergLite.write(spark, o.where(col("o_orderkey") % 2 === 0), table,
      partitionField = Some(IcebergLite.PartField.truncate("o_orderpriority", 3)))
    val (files, nMatched, nTotal) =
      IcebergLite.planPartitioned(spark, table, Set("1-U", "4-N"))
    ParquetDirect.read(spark, files: _*)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("files_scanned", lit(nMatched))
      .withColumn("files_total", lit(nTotal))
      .orderBy("o_orderpriority")
  }

  /** X36x: Delta GENERATED COLUMNS — the declaration is field metadata
    * (`delta.generationExpression`, writer-4 protocol), and the contract
    * is writer-side: batch 1 PROVIDES the column (validated on declare),
    * batch 2 OMITS it and the writer computes it from the expression —
    * the final grouped read only matches the oracle if the computed
    * values are right. `n_generated` is recounted from the replayed
    * schema's field metadata, not echoed. */
  private def deltaGenerated(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_gen")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
    val genExpr = "CAST(year(o_orderdate) AS BIGINT)"
    DeltaLite.write(spark,
      o.where(col("o_orderkey") % 2 === 0)
        .withColumn("o_year", expr(genExpr)), table)
    DeltaLite.addGeneratedColumn(spark, table, "o_year", genExpr)
    // this batch OMITS o_year — the writer derives it
    DeltaLite.write(spark, o.where(col("o_orderkey") % 2 === 1), table)
    val nGen = DeltaLite.tableSchema(spark, table).fields
      .count(_.metadata.contains("delta.generationExpression")).toLong
    DeltaLite.read(spark, table)
      .groupBy("o_year")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("n_generated", lit(nGen))
      .orderBy("o_year")
  }

  /** X261q: Iceberg MERGE INTO (upsert) with FILE-GRANULAR copy-on-write:
    * the table is laid out so updates hit only the even-key files (commit
    * 1) and never the odd-key files (commit 2) — after the merge the odd
    * files are still live BY REFERENCE (`untouched_retained`) while every
    * even file left the live set (`touched_rewritten`), proving the
    * rewrite was planned at file granularity, not table granularity.
    * Matched keys take the source row (+500), unmatched source keys
    * insert (+1000), and the counts come from the merge return. */
  private def icebergMerge(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("ice_mrg")
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    val init = o.where(col("o_orderkey") % 4 =!= 3)
    IcebergLite.write(spark,
      init.where(col("o_orderkey") % 2 === 0).repartition(2), table)
    val evenFiles = IcebergLite.snapshotFiles(spark, table, -1L).toSet
    IcebergLite.write(spark,
      init.where(col("o_orderkey") % 2 === 1).repartition(2), table)
    val oddFiles = IcebergLite.snapshotFiles(spark, table, -1L).toSet -- evenFiles
    val src = o.where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") + 500.0).as("o_totalprice"))
      .unionAll(o.where(col("o_orderkey") % 4 === 3)
        .select(col("o_orderkey"),
          (col("o_totalprice") + 1000.0).as("o_totalprice")))
    val (_, nUpd, nIns) = IcebergLite.mergeInto(spark, table, src, "o_orderkey")
    val after = IcebergLite.snapshotFiles(spark, table, -1L).toSet
    IcebergLite.read(spark, table)
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("rows_updated", lit(nUpd))
      .withColumn("rows_inserted", lit(nIns))
      .withColumn("untouched_retained", lit(oddFiles.subsetOf(after)))
      .withColumn("touched_rewritten", lit(evenFiles.intersect(after).isEmpty))
  }

  /** X261p: Iceberg v2 merge-on-read UPDATE — ONE snapshot carrying both
    * manifest kinds (content=1 position deletes masking the old rows,
    * content=0 data files adding the updated ones; no existing file
    * rewritten). Two OVERLAPPING updates prove stacking: the second
    * update's positions are planned on the live view, so rows the first
    * update relocated are re-masked at their NEW coordinates and the
    * overlap gets both assignments. The pre-update snapshot still
    * time-travels to the original total, and every original data file is
    * still live after both updates (`old_files_retained` — the
    * no-rewrite property). */
  private def icebergUpdate(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("ice_upd")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val mx = o.agg(max("o_orderkey")).collect()(0).getLong(0)
    val q = mx / 4
    IcebergLite.write(spark,
      o.where(col("o_orderkey") % 2 === 0).repartition(2), table)
    IcebergLite.write(spark,
      o.where(col("o_orderkey") % 2 === 1).repartition(2), table)
    val preSid = 2L
    val filesBefore = IcebergLite.snapshotFiles(spark, table, -1L).toSet
    val (_, upd1) = IcebergLite.updateWhere(spark, table, "o_orderkey",
      q, 2 * q, Map("o_totalprice" -> (col("o_totalprice") + 500.0)))
    val (_, upd2) = IcebergLite.updateWhere(spark, table, "o_orderkey",
      3 * q / 2, 5 * q / 2,
      Map("o_totalprice" -> (col("o_totalprice") + 1000.0)))
    val filesAfter = IcebergLite.snapshotFiles(spark, table, -1L).toSet
    val totalBefore = IcebergLite.read(spark, table, preSid)
      .agg(round(sum("o_totalprice"), 2)).collect()(0).getDouble(0)
    IcebergLite.read(spark, table)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("rows_updated_1", lit(upd1))
      .withColumn("rows_updated_2", lit(upd2))
      .withColumn("total_before", lit(totalBefore))
      .withColumn("old_files_retained", lit(filesBefore.subsetOf(filesAfter)))
      .orderBy("o_orderpriority")
  }

  /** X261o: Iceberg METADATA TABLES — the table's own metadata queried
    * relationally (`table$snapshots` / `$files` / `$manifests` / `$refs`):
    * two hash-spread appends then a position delete, and every pinned
    * number is RECOUNTED from the metadata layer — snapshot count and
    * current operation off the snapshot list, live data/delete file
    * inventories (whose record_count sums must equal the source
    * relation's row counts — the statistics are genuine, not echoed),
    * manifest entry-status counts, and the `main` branch ref. All
    * control-plane: the key's metadata walk opens no data file. */
  private def icebergMetaTables(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("ice_meta")
    val ev = Tables.events(spark, dir).select(col("event_id"), col("user_id"))
    IcebergLite.write(spark,
      ev.where(col("event_id") % 3 === 0).repartition(2), table)
    IcebergLite.write(spark,
      ev.where(col("event_id") % 3 === 1).repartition(2), table)
    IcebergLite.deleteWhere(spark, table, "user_id", 1L, 50L)
    val snaps = IcebergLite.metadataTable(spark, table, "snapshots")
      .agg(count(lit(1)).as("n_snapshots"),
        max(when(col("is_current"), col("operation"))).as("current_op"))
    val files = IcebergLite.metadataTable(spark, table, "files")
      .agg(count(when(col("content") === 0, lit(1))).as("n_data_files"),
        sum(when(col("content") === 0, col("record_count")))
          .as("data_records"),
        count(when(col("content") === 1, lit(1))).as("n_delete_files"),
        sum(when(col("content") === 1, col("record_count")))
          .as("deleted_records"))
    val mans = IcebergLite.metadataTable(spark, table, "manifests")
      .agg(count(lit(1)).as("n_manifests"),
        sum("added_files_count").as("n_added_entries"))
    val refs = IcebergLite.metadataTable(spark, table, "refs")
      .agg(count(lit(1)).as("n_refs"),
        max(when(col("name") === "main", col("type"))).as("main_type"))
    snaps.crossJoin(files).crossJoin(mans).crossJoin(refs)
  }

  /** X261i: Iceberg history — [[DeltaLite.history]]'s parity surface off
    * snapshot summaries + genuinely recounted manifest entries, incl. the
    * streaming batch marker a commitIdempotent snapshot carries. */
  private def icebergHistory(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("ice_hist")
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    IcebergLite.write(spark,
      o.where(col("o_orderkey") % 2 === 0).repartition(2), table)
    IcebergLite.write(spark,
      o.where(col("o_orderkey") % 2 === 1).repartition(1), table)
    IcebergLite.write(spark, o.repartition(1), table, overwrite = true)
    IcebergLite.commitIdempotent(spark,
      o.where(col("o_orderkey") === 1L).repartition(1), table, batchId = 7L)
    IcebergLite.history(spark, table)
  }

  /** X36n: Delta row-level DELETE with stats-planned minimal rewrite —
    * on the 4-quarter skipping layout, deleting keys in [0, q/2] plans
    * ONE affected file off the log stats, rewrites only it, and commits
    * remove+add in one version. The unfiltered current read plus the
    * genuinely computed (files-rewritten, rows-deleted) pair prove both
    * the delete and the minimality of the rewrite. */
  private def deltaDelete(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_del")
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    val mx = o.agg(max("o_orderkey")).collect()(0).getLong(0)
    val q = mx / 4
    val bounds = Seq((0L, q), (q + 1, 2 * q), (2 * q + 1, 3 * q), (3 * q + 1, mx))
    bounds.foreach { case (lo, hi) =>
      DeltaLite.write(spark,
        o.where(col("o_orderkey").between(lo, hi)).repartition(1), table,
        collectStats = true)
    }
    val (_, rewritten, deleted) =
      DeltaLite.deleteWhere(spark, table, "o_orderkey", 0L, q / 2)
    DeltaLite.read(spark, table)
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("n_files_rewritten", lit(rewritten))
      .withColumn("n_rows_deleted", lit(deleted))
  }

  /** X36t: Delta DELETE via DELETION VECTORS — merge-on-read row removal
    * (PROTOCOL.md §Deletion Vectors): two overlapping range deletes leave
    * every affected parquet file physically untouched and carry roaring-
    * bitmap vectors instead; the second delete MERGES into the first's
    * vectors (union semantics — only newly-deleted rows count), reads
    * subtract positions through the parquet reader's own row_index, and
    * the pre-delete version still time-travels to the full row count.
    * `files_unchanged` pins the no-rewrite property: the live file SET is
    * identical before and after both deletes. */
  private def deltaDv(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_dv")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val mx = o.agg(max("o_orderkey")).collect()(0).getLong(0)
    val q = mx / 4
    // two hash-spread commits: every file mixes key ranges, so deletes
    // leave PARTIAL vectors (never whole-file drops)
    DeltaLite.write(spark,
      o.where(col("o_orderkey") % 2 === 0).repartition(2), table,
      collectStats = true)
    DeltaLite.write(spark,
      o.where(col("o_orderkey") % 2 === 1).repartition(2), table,
      collectStats = true)
    val preV = DeltaLite.latestVersion(spark, table)
    val filesBefore = DeltaLite.readWithStats(spark, table)._2.files.toSet
    val (_, _, del1) = DeltaLite.deleteWhereDV(spark, table, "o_orderkey", q, 2 * q)
    val (_, _, del2) =
      DeltaLite.deleteWhereDV(spark, table, "o_orderkey", 3 * q / 2, 5 * q / 2)
    val filesAfter = DeltaLite.readWithStats(spark, table)._2.files.toSet
    val rowsBefore = DeltaLite.read(spark, table, preV).count()
    DeltaLite.read(spark, table)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("rows_deleted_1", lit(del1))
      .withColumn("rows_deleted_2", lit(del2))
      .withColumn("rows_before", lit(rowsBefore))
      .withColumn("files_unchanged", lit(filesAfter == filesBefore))
      .orderBy("o_orderpriority")
  }

  /** X36o: Delta RESTORE — rolling back to version 0 as a NEW commit
    * (history preserved): the restore removes the overwrite's files and
    * re-adds version 0's, so the current read equals the original table
    * while all three versions stay readable. */
  private def deltaRestore(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_rst")
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    DeltaLite.write(spark, o, table)
    val repriced = o.select(col("o_orderkey"),
      when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1000.0)
        .otherwise(col("o_totalprice")).as("o_totalprice"))
    DeltaLite.write(spark, repriced, table, overwrite = true)
    val v = DeltaLite.restore(spark, table, toVersion = 0L)
    DeltaLite.read(spark, table)
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("restore_version", lit(v))
  }

  /** X261e: Iceberg HIDDEN partitioning + manifest scan pruning — the
    * table declares `truncate[7]` on `o_orderdate` (the month prefix);
    * data files split by the transform value, manifests record it per
    * file, and the two-month query is planned off the MANIFESTS alone:
    * the scan reads exactly the matched files with NO row filter — the
    * answer is correct purely because pruning is (the hidden-partitioning
    * proof). files_scanned/files_total come from the actual planning
    * walk, so a planner that silently full-scans turns the key red. */
  private def icebergPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("iceberg_part")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"))
    IcebergLite.write(spark, o, table,
      partitionField = Some(IcebergLite.PartField.truncate("o_orderdate", 7)))
    val (files, matched, total) =
      IcebergLite.planPartitioned(spark, table, Set("1996-03", "1997-07"))
    ParquetDirect.read(spark, files: _*)
      .groupBy(substring(col("o_orderdate"), 1, 7).as("o_month"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("files_scanned", lit(matched))
      .withColumn("files_total", lit(total))
      .orderBy("o_month")
  }

  /** X261h: Iceberg value-bounds skipping — [[deltaSkipping]]'s proof on
    * the second format's statistics layer: four appends of contiguous
    * o_orderkey quarters (one file each, bounds recorded in the
    * manifests), the [0, max/4] query planned off the manifests alone,
    * the matched scan unfiltered. */
  private def icebergSkipping(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("iceberg_skip")
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    val mx = o.agg(max("o_orderkey")).collect()(0).getLong(0)
    val q = mx / 4
    val bounds = Seq((0L, q), (q + 1, 2 * q), (2 * q + 1, 3 * q), (3 * q + 1, mx))
    bounds.foreach { case (lo, hi) =>
      IcebergLite.write(spark,
        o.where(col("o_orderkey").between(lo, hi)).repartition(1), table,
        boundsColumn = Some("o_orderkey"))
    }
    val (files, matched, total) = IcebergLite.planBounds(spark, table, 0L, q)
    ParquetDirect.read(spark, files: _*)
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("files_scanned", lit(matched))
      .withColumn("files_total", lit(total))
  }

  /** X261g: Iceberg snapshot expiration — the retention lifecycle op:
    * after an overwrite, expiring to keepLast=1 drops the pre-overwrite
    * snapshot from the metadata and sweeps its manifest list, manifest,
    * and the two unreferenced data files (writes pinned to
    * `repartition(2)`); the current read is byte-identical after, and
    * the expired/deleted counts come from the actual sweep. */
  private def icebergExpire(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("iceberg_exp")
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    IcebergLite.write(spark, o.repartition(2), table)
    val repriced = o.select(col("o_orderkey"),
      when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1000.0)
        .otherwise(col("o_totalprice")).as("o_totalprice"))
    IcebergLite.write(spark, repriced.repartition(2), table, overwrite = true)
    val (expired, deleted) = IcebergLite.expireSnapshots(spark, table, keepLast = 1)
    IcebergLite.read(spark, table)
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("n_snapshots_expired", lit(expired))
      .withColumn("n_files_deleted", lit(deleted))
  }

  /** X36j: Delta schema evolution — a widened append re-declares the
    * table schema via a metaData action in its own commit; reads apply
    * the NEWEST schema (never per-file inference), so pre-evolution files
    * surface the added column as NULL. The [[schemaEvolution]] semantics
    * (X25) in the table-format contract, where the log — not a
    * `mergeSchema` scan option — is the source of truth. */
  private def deltaSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_evo")
    val orders = Tables.orders(spark, dir)
    DeltaLite.write(spark,
      orders.where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey")), table)
    DeltaLite.write(spark,
      orders.where(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")), table)
    DeltaLite.read(spark, table).orderBy("o_orderkey")
  }

  /** X261d: Iceberg schema evolution — the widened append lands under a
    * NEW schema-id appended to the immutable schemas list; the current
    * read resolves it, pre-evolution files surfacing the added column as
    * NULL, while snapshot-1 time travel keeps its own original schema. */
  private def icebergSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("iceberg_evo")
    val orders = Tables.orders(spark, dir)
    IcebergLite.write(spark,
      orders.where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey")), table)
    IcebergLite.write(spark,
      orders.where(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")), table)
    IcebergLite.read(spark, table).orderBy("o_orderkey")
  }

  /** X268: the Delta table reached through SQL — `graft.db.t` via
    * [[graft.sources.v2.GraftCatalog]]. The lifecycle is real (two
    * versioned appends, then a copy-on-write DELETE) and every read goes
    * through `spark.sql`: the current grouped aggregate AND two
    * `VERSION AS OF` counts (v0 = first append only, v1 = both) — the
    * oracle reproduces all three from the source relation, so the key
    * proves catalog resolution, snapshot planning, and SQL time travel
    * in one differential check. Catalog name is key-private ("graftd"):
    * Spark caches catalog plugins by name per session, so sharing a
    * name across keys would pin the FIRST key's warehouse. */
  private def deltaSqlRead(spark: SparkSession, dir: String): DataFrame = {
    val wh = Sinks.tempDir("cat_wh_delta")
    spark.conf.set("spark.sql.catalog.graftd",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftd.warehouse", wh)
    val table = s"$wh/db/orders_sql"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    DeltaLite.write(spark, o.where(col("o_orderkey") % 2 === 0)
      .repartition(2), table, collectStats = true) // v0
    DeltaLite.write(spark, o.where(col("o_orderkey") % 2 === 1)
      .repartition(2), table, collectStats = true) // v1
    DeltaLite.deleteWhere(spark, table, "o_orderkey", 1L, 800L) // v2, COW
    val v0 = spark.sql(
      "SELECT count(*) FROM graftd.db.orders_sql VERSION AS OF 0")
      .collect()(0).getLong(0)
    val v1 = spark.sql(
      "SELECT count(*) FROM graftd.db.orders_sql VERSION AS OF 1")
      .collect()(0).getLong(0)
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftd.db.orders_sql GROUP BY o_orderpriority""".stripMargin)
      .withColumn("rows_v0", lit(v0))
      .withColumn("rows_v1", lit(v1))
      .orderBy("prio")
  }

  /** X268/X276, Iceberg side: appends → MOR DELETE, which the SQL
    * surface now SERVES uncompacted (the catalog routes delete-carrying
    * snapshots through [[IcebergLite.read]]'s sequence-gated mask
    * filter via the V1 bridge — `mor_rows` is counted through `spark.sql`
    * while the position deletes are live) → `rewriteDataFiles`
    * compacts and the stock parquet path resumes with the same answer;
    * `VERSION AS OF <snapshot-id>` travels to the first append. */
  private def icebergSqlRead(spark: SparkSession, dir: String): DataFrame = {
    val wh = Sinks.tempDir("cat_wh_ice")
    spark.conf.set("spark.sql.catalog.grafti",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grafti.warehouse", wh)
    val table = s"$wh/db/orders_sql"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    IcebergLite.write(spark, o.where(col("o_orderkey") % 2 === 0)
      .repartition(2), table) // snapshot 1
    IcebergLite.write(spark, o.where(col("o_orderkey") % 2 === 1)
      .repartition(2), table) // snapshot 2
    IcebergLite.deleteWhere(spark, table, "o_orderkey", 1L, 800L) // snap 3
    // merge-on-read state through SQL, uncompacted: deleted rows gone
    val morRows = spark.sql("SELECT count(*) FROM grafti.db.orders_sql")
      .collect()(0).getLong(0)
    IcebergLite.rewriteDataFiles(spark, table) // snap 4: pure data files
    val s1 = spark.sql(
      "SELECT count(*) FROM grafti.db.orders_sql VERSION AS OF 1")
      .collect()(0).getLong(0)
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM grafti.db.orders_sql GROUP BY o_orderpriority""".stripMargin)
      .withColumn("rows_snap1", lit(s1))
      .withColumn("mor_rows", lit(morRows))
      .orderBy("prio")
  }

  /** X275: the SQL WRITE path — the reference's core data-plane
    * operation (catalog-addressed `mode("overwrite")`/`mode("append")`
    * writes, `spark_ingest_slmandicprd.py:99-103,137-141`) as Spark's
    * own SQL statements. `CREATE TABLE` runs [[DeltaLite.createTable]]'s
    * v0 metadata-only commit; two `INSERT INTO ... SELECT` appends land
    * as versions 1 and 2 through [[DeltaLite.write]]'s arbiter;
    * `INSERT OVERWRITE` truncates as ONE versioned commit (v3) that
    * time travel still sees through. The read-back goes through BOTH
    * surfaces — SQL and the format reader — and the oracle reproduces
    * the final state plus the pre-overwrite row count from the source
    * relation. */
  private def deltaSqlInsert(spark: SparkSession, dir: String): DataFrame = {
    // session-stable warehouse: Spark caches catalog plugins by name, so
    // a re-run in the same session must resolve the SAME warehouse the
    // cached plugin pinned — first run names it, later runs reuse it
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftdw.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_dins")
        spark.conf.set("spark.sql.catalog.graftdw",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftdw.warehouse", w)
        w
      }
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .createOrReplaceTempView("dins_src")
    // Spark caches catalog plugins by name per session: a re-run of this
    // key resolves the CACHED warehouse, so the lifecycle must be
    // idempotent — drop any prior run's table first
    spark.sql("DROP TABLE IF EXISTS graftdw.db.orders_ins")
    spark.sql("""CREATE TABLE graftdw.db.orders_ins
      |  (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)
      |  USING delta""".stripMargin) // v0: metadata only
    spark.sql("""INSERT INTO graftdw.db.orders_ins
      |SELECT * FROM dins_src WHERE o_orderkey % 2 = 0""".stripMargin) // v1
    spark.sql("""INSERT INTO graftdw.db.orders_ins
      |SELECT * FROM dins_src WHERE o_orderkey % 2 = 1""".stripMargin) // v2
    val afterAppends = spark
      .sql("SELECT count(*) FROM graftdw.db.orders_ins")
      .collect()(0).getLong(0)
    spark.sql("""INSERT OVERWRITE graftdw.db.orders_ins
      |SELECT * FROM dins_src WHERE o_orderkey <= 1000""".stripMargin) // v3
    // both surfaces agree on the committed log
    val apiRows = DeltaLite.read(spark, s"$wh/db/orders_ins").count()
    val v2Rows = spark
      .sql("SELECT count(*) FROM graftdw.db.orders_ins VERSION AS OF 2")
      .collect()(0).getLong(0)
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftdw.db.orders_ins GROUP BY o_orderpriority""".stripMargin)
      .withColumn("rows_appended", lit(afterAppends))
      .withColumn("rows_api", lit(apiRows))
      .withColumn("rows_v2", lit(v2Rows))
      .orderBy("prio")
  }

  /** X275, Iceberg side: CREATE TABLE commits an empty first snapshot,
    * INSERTs append manifests BY REFERENCE (commit cost O(new files)),
    * INSERT OVERWRITE starts the manifest list fresh — the exact
    * semantics of [[IcebergLite.write]], reached through SQL. */
  private def icebergSqlInsert(spark: SparkSession, dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftiw.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_iins")
        spark.conf.set("spark.sql.catalog.graftiw",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftiw.warehouse", w)
        w
      }
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .createOrReplaceTempView("iins_src")
    spark.sql("DROP TABLE IF EXISTS graftiw.db.orders_ins") // re-run safety
    spark.sql("""CREATE TABLE graftiw.db.orders_ins
      |  (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)
      |  USING iceberg""".stripMargin) // snapshot 1: empty
    spark.sql("""INSERT INTO graftiw.db.orders_ins
      |SELECT * FROM iins_src WHERE o_orderkey % 2 = 0""".stripMargin) // snap 2
    spark.sql("""INSERT INTO graftiw.db.orders_ins
      |SELECT * FROM iins_src WHERE o_orderkey % 2 = 1""".stripMargin) // snap 3
    val afterAppends = spark
      .sql("SELECT count(*) FROM graftiw.db.orders_ins")
      .collect()(0).getLong(0)
    spark.sql("""INSERT OVERWRITE graftiw.db.orders_ins
      |SELECT * FROM iins_src WHERE o_orderkey <= 1000""".stripMargin) // snap 4
    val apiRows = IcebergLite.read(spark, s"$wh/db/orders_ins").count()
    val s3Rows = spark
      .sql("SELECT count(*) FROM graftiw.db.orders_ins VERSION AS OF 3")
      .collect()(0).getLong(0)
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftiw.db.orders_ins GROUP BY o_orderpriority""".stripMargin)
      .withColumn("rows_appended", lit(afterAppends))
      .withColumn("rows_api", lit(apiRows))
      .withColumn("rows_snap3", lit(s3Rows))
      .orderBy("prio")
  }

  /** X277: ingestion-TIME partitioning — the reference's one physical
    * layout (`_PARTITIONTIME` 30-day pruning,
    * `Sites/DataProc_Script/verifica_carga_slmandicprd.py:74-79`) as the
    * Iceberg spec's `day` transform: events day-partitioned by `ts`
    * (hidden layout — the source column stays untouched in the files),
    * then a 5-day window planned OFF THE MANIFESTS ALONE
    * ([[IcebergLite.planPartitioned]] with the window's epoch-day
    * ordinals): 5 of 30 day-files open, the rest are never touched. At
    * 100 TB this is the difference between scanning a month and
    * scanning a work-week. The oracle reproduces the window's aggregate
    * relationally; the scanned/total counts ride as pinned columns. */
  private def icebergPartitionTime(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("ice_ptime")
    val e = Tables.events(spark, dir)
      .select(col("ts"), col("event_type"), col("user_id"), col("value"))
    IcebergLite.write(spark, e, table,
      partitionField = Some(IcebergLite.PartField.day("ts")))
    val d0 = java.time.LocalDate.of(2024, 1, 5).toEpochDay // data: Jan 1-30
    val wanted = (d0 to d0 + 4).map(_.toString).toSet
    val (files, nMatched, nTotal) =
      IcebergLite.planPartitioned(spark, table, wanted)
    spark.read.schema(e.schema).parquet(files: _*)
      .where(to_date(col("ts")).between("2024-01-05", "2024-01-09"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("user_id").as("user_sum"),
        round(sum("value"), 2).as("value_sum"))
      .withColumn("files_scanned", lit(nMatched))
      .withColumn("files_total", lit(nTotal))
      .orderBy("event_type")
  }

  /** X278: `bucket[8]` hidden partitioning on the join/lookup key — the
    * spec's seed-0 Murmur3 ([[graft.functions.IcebergBucket]], codegen'd;
    * spec test vector hash(34)=2017239379 pinned in IcebergLiteSpec).
    * A 3-key lookup plans to the keys' OWN buckets off the manifests:
    * ≤3 of 8 bucket-files open. This layout is the prerequisite for
    * storage-partitioned (shuffle-free) joins — both sides bucket
    * identically by construction. */
  private def icebergBucket(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("ice_bucket")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val pf = IcebergLite.PartField.bucket("o_orderkey", 8)
    IcebergLite.write(spark, o, table, partitionField = Some(pf))
    val keys = Seq(10L, 11L, 12L)
    val (files, nMatched, nTotal) = IcebergLite.planPartitioned(spark, table,
      keys.map(k => pf.valueOf(k)).toSet)
    spark.read.schema(o.schema).parquet(files: _*)
      .where(col("o_orderkey").isin(keys: _*))
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
      .withColumn("files_scanned", lit(nMatched))
      .withColumn("files_total", lit(nTotal))
      .orderBy("o_orderkey")
  }

  /** X279: STORAGE-PARTITIONED JOIN — the 100 TB join shape: orders and
    * per-order lineitem totals land in two `bucket[8](orderkey)` tables
    * (the spec transform, seed-0 Murmur3), and the catalog's key-grouped
    * scan ([[graft.sources.v2.KeyGroupedParquetScan]]) reports each
    * side's bucket layout to Spark, which plans the join with ZERO
    * exchanges — neither table shuffles, ever. The key counts the
    * shuffles in the executed join plan and emits the count (pinned 0)
    * beside the joined aggregate the oracle reproduces relationally.
    * This is what `bucket[N]` exists for: co-locate once at write time,
    * join forever for free. */
  private def icebergSpjJoin(spark: SparkSession, dir: String): DataFrame = {
    val wh = Sinks.tempDir("cat_wh_spj")
    spark.conf.set("spark.sql.catalog.graftsp",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsp.warehouse", wh)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val l = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum("l_quantity").as("qty"), count(lit(1)).as("n_items"))
    IcebergLite.write(spark, o, s"$wh/db/spj_orders",
      partitionField = Some(IcebergLite.PartField.bucket("o_orderkey", 8)))
    IcebergLite.write(spark, l, s"$wh/db/spj_items",
      partitionField = Some(IcebergLite.PartField.bucket("l_orderkey", 8)))
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val joined = spark.sql(
        """SELECT a.o_orderkey, a.o_totalprice, a.o_orderpriority, b.qty
          |FROM graftsp.db.spj_orders a
          |JOIN graftsp.db.spj_items b ON a.o_orderkey = b.l_orderkey""".stripMargin)
      // localCheckpoint executes the join ONCE (finalizing the AQE plan on
      // `joined`'s own QueryExecution, which the shuffle probe below reads)
      // and materializes its rows, so the reported aggregate does not
      // re-run the bucket scans + join a second time. A persist() instead
      // would make the CacheManager swap the subtree for an
      // InMemoryTableScan and the probe would report 0 unconditionally.
      val materialized = joined.localCheckpoint()
      def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          shuffles(a.executedPlan)
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => 1
      }.sum
      val nShuffles = shuffles(joined.queryExecution.executedPlan)
      materialized.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum("o_totalprice"), 2).as("total"),
          round(sum("qty"), 2).as("qty_sum"))
        .withColumn("join_shuffles", lit(nShuffles.toLong))
        .orderBy("o_orderpriority")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** X280: spec column statistics beyond long ranges — STRING bounds
    * (lower_bounds/upper_bounds, truncated binary encoding) and NULL
    * counts (null_value_counts, field 110). One value-clustered write
    * records both; then (a) a string-range predicate plans off the
    * bounds alone and (b) an IS-NULL audit (the reference's
    * data-quality shape — its verifica job counts null keys) plans off
    * the null counts alone, each opening a strict subset of files. The
    * unfiltered aggregate is oracle-reproduced; the pruning counters
    * ride as pinned columns. */
  private def icebergSkippingStr(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("ice_skip_str")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"),
        when(col("o_orderkey") % 97 === 0, lit(null))
          .otherwise(col("o_orderpriority")).as("prio"))
      // explicit count: AQE must not coalesce the value-clustered layout
      // (hash of the 6 distinct values is data-size-independent, so the
      // file layout — and the pruning counters — are identical at every
      // scale factor)
      .repartition(8, col("prio"))
    IcebergLite.write(spark, o, table, statsColumns = Seq("prio"))
    // string-range plan: files whose [lower, upper] may intersect
    val (rangeFiles, rm, rt) =
      IcebergLite.planStringRange(spark, table, "prio", "2", "4")
    val ranged = spark.read.schema(o.schema).parquet(rangeFiles: _*)
      .where(col("prio") >= "2" && col("prio") <= "4")
      .groupBy("prio")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
    // IS NULL plan: only files whose recorded null count is > 0 open
    val (nullFiles, nm, _) = IcebergLite.planNulls(spark, table, "prio")
    val nullRows = spark.read.schema(o.schema).parquet(nullFiles: _*)
      .where(col("prio").isNull).count()
    ranged
      .withColumn("null_rows", lit(nullRows))
      .withColumn("range_files", lit(rm))
      .withColumn("null_files", lit(nm))
      .withColumn("files_total", lit(rt))
      .orderBy("prio")
  }

  /** X281: Puffin statistics STEERING a plan ([[graft.plans
    * .PuffinPlanner]]): the engine's own written NDV blob (40 distinct
    * join keys on the fan-in side) licenses the broadcast key-set
    * prefilter even though the side's bytes are over the broadcast
    * budget — the strategy the planner picked rides as a pinned column,
    * and the joined aggregate is oracle-reproduced. */
  private def puffinJoin(spark: SparkSession, dir: String): DataFrame = {
    val lt = Sinks.tempDir("puffin_join_l")
    val rt = Sinks.tempDir("puffin_join_r")
    val o = Tables.orders(spark, dir)
    IcebergLite.write(spark,
      o.select((col("o_orderkey") % 40).as("k"), col("o_totalprice")), lt)
    IcebergLite.write(spark,
      o.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("prio")), rt)
    IcebergLite.writeStatistics(spark, lt, Seq("k"))
    val (joined, strategy) = graft.plans.PuffinPlanner.join(
      spark, lt, rt, "k", "k", broadcastBytes = 1L)
    joined.groupBy(col("prio"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("strategy", lit(strategy))
      .orderBy("prio")
  }

  /** X303: the Puffin lifecycle CLOSED through SQL — `CALL
    * cat.system.write_statistics('db.t', 'k')` writes the NDV blobs
    * catalog-addressably (previously API-only), and compaction through
    * the maintenance verb RE-ANCHORS them at the new snapshot instead
    * of staling them silently (a stale blob licenses nothing — X281's
    * planner ignores it, so without the refresh every OPTIMIZE quietly
    * turns the steered plan back into a shuffle). Pinned: the plan
    * FLIPS from `shuffle` to `ndv_prefilter` after the CALL, and stays
    * `ndv_prefilter` after `CALL rewrite_data_files` because the stats
    * re-anchored (fresh, not stale, at the compacted snapshot). */
  private def icebergSqlWriteStatistics(spark: SparkSession,
      dir: String): DataFrame = {
    val catName = "graftstats"
    val wh = spark.conf
      .getOption(s"spark.sql.catalog.$catName.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_stats")
        spark.conf.set(s"spark.sql.catalog.$catName",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$catName.warehouse", w)
        w
      }
    val o = Tables.orders(spark, dir)
    val lt = s"$wh/db/stats_l"
    val rt = s"$wh/db/stats_r"
    val hfs = new org.apache.hadoop.fs.Path(wh).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    hfs.delete(new org.apache.hadoop.fs.Path(lt), true)
    hfs.delete(new org.apache.hadoop.fs.Path(rt), true)
    // fan-in left side: 40 distinct join keys over every order row
    IcebergLite.write(spark,
      o.select((col("o_orderkey") % 40).as("k"), col("o_totalprice"))
        .repartition(4), lt)
    IcebergLite.write(spark,
      o.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("prio")), rt)
    def strategy(): String = graft.plans.PuffinPlanner.join(
      spark, lt, rt, "k", "k", broadcastBytes = 1L)._2
    val before = strategy() // no blob: nothing licenses the prefilter
    spark.sql(
      s"CALL $catName.system.write_statistics('db.stats_l', 'k')")
    val after = strategy() // the written NDV (40) licenses it
    spark.sql(s"CALL $catName.system.rewrite_data_files('db.stats_l', 1)")
    // the compacted snapshot carries a FRESH re-anchored entry (prior
    // snapshots keep theirs — one stats entry per snapshot, stale by
    // construction — so exists, not forall)
    val statsFresh = IcebergLite.readStatistics(spark, lt).exists(!_._4)
    val afterCompact = strategy() // re-anchored stats keep licensing
    val (joined, _) = graft.plans.PuffinPlanner.join(
      spark, lt, rt, "k", "k", broadcastBytes = 1L)
    joined.groupBy(col("prio"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("flip_before", lit(before))
      .withColumn("flip_after", lit(after))
      .withColumn("after_compact", lit(afterCompact))
      .withColumn("stats_fresh", lit(statsFresh))
      .orderBy("prio")
  }

  /** X306: `DELETE FROM … WHERE k IN (…)` — the right-to-be-forgotten
    * shape — claims the EQUALITY-delete fast path on Iceberg: the value
    * list IS the delete file (O(values) written, NOTHING read or
    * rewritten — at 100 TB a COW fallback here rewrites terabytes to
    * forget a handful of users). Pinned: the live data-file set is
    * byte-identical across the DELETE, the committed delete file is the
    * EQUALITY kind (its parquet schema is the key column, not
    * (file_path, pos)), deleted keys stay gone through SQL, and a row
    * re-inserted AFTER the delete survives it by sequence — the upsert
    * semantics the kind exists for, now end-to-end in SQL. */
  private def icebergSqlDeleteIn(spark: SparkSession,
      dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftdin.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_din")
        spark.conf.set("spark.sql.catalog.graftdin",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftdin.warehouse", w)
        w
      }
    spark.sql("DROP TABLE IF EXISTS graftdin.db.orders_din")
    spark.sql(
      """CREATE TABLE graftdin.db.orders_din (
        |  o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)
        |USING iceberg""".stripMargin)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .createOrReplaceTempView("din_src")
    spark.sql("INSERT INTO graftdin.db.orders_din SELECT * FROM din_src")
    val table = s"$wh/db/orders_din"
    val filesBefore = IcebergLite.snapshotFiles(spark, table, -1L).toSet
    spark.sql("DELETE FROM graftdin.db.orders_din " +
      "WHERE o_orderkey IN (1, 2, 3, 4, 5, 6, 7, 32, 33, 34)")
    val noRewrite =
      IcebergLite.snapshotFiles(spark, table, -1L).toSet == filesBefore
    // the delete file is the EQUALITY kind: its schema is the key
    // column's value list, not (file_path, pos) coordinates
    val delFiles = IcebergLite.snapshotDeleteFiles(spark, table, -1L)
    // footer-only sniff: driver parquet metadata read, no Spark job
    val eqKind = delFiles.nonEmpty && delFiles.forall(p =>
      ParquetDirect.footerSchema(spark, p).fieldNames.toSeq == Seq("o_orderkey"))
    // a key re-inserted AFTER the delete survives it (sequence gating)
    spark.sql("INSERT INTO graftdin.db.orders_din " +
      "VALUES (1, 9999.0, '1-URGENT')")
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftdin.db.orders_din GROUP BY o_orderpriority""".stripMargin)
      .withColumn("no_rewrite", lit(noRewrite))
      .withColumn("eq_kind", lit(eqKind))
      .orderBy("prio")
  }

  /** X307: `DELETE … WHERE k IN (…)` on a DELETION-VECTOR-carrying
    * Delta table — the Delta half of the RTBF fast path (X306 is the
    * Iceberg half): exact-match positions union into the existing
    * vectors, kilobytes written, the live file set byte-identical
    * across the DELETE (pinned). Plain Delta tables do NOT claim IN —
    * they fall through to the row-level rewrite rather than serving a
    * pretend metadata path. */
  private def deltaSqlDeleteInDv(spark: SparkSession,
      dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftdvin.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_dvin")
        spark.conf.set("spark.sql.catalog.graftdvin",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftdvin.warehouse", w)
        w
      }
    val table = s"$wh/db/orders_dvin"
    val hfs = new org.apache.hadoop.fs.Path(wh).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    hfs.delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    DeltaLite.write(spark, o.repartition(4), table, collectStats = true)
    DeltaLite.deleteWhereDV(spark, table, "o_orderkey", 1L, 800L) // DVs live
    val filesBefore = DeltaLite.snapshotAt(spark, table).files.toSet
    spark.sql("DELETE FROM graftdvin.db.orders_dvin " +
      "WHERE o_orderkey IN (850, 900, 950, 1000, 1050, 1100)")
    val noRewrite =
      DeltaLite.snapshotAt(spark, table).files.toSet == filesBefore
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftdvin.db.orders_dvin
        |GROUP BY o_orderpriority""".stripMargin)
      .withColumn("no_rewrite", lit(noRewrite))
      .orderBy("prio")
  }

  /** X282: SQL `DELETE FROM` through the catalog — the predicate lowers
    * to [[DeltaLite.deleteWhere]]'s stats-planned copy-on-write rewrite
    * (only files whose recorded key range intersects the predicate are
    * opened); the post-delete state reads back through SQL and the
    * format reader, both time-travel coordinates pinned. */
  private def deltaSqlDelete(spark: SparkSession, dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftdd.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_ddel")
        spark.conf.set("spark.sql.catalog.graftdd",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftdd.warehouse", w)
        w
      }
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    spark.sql("DROP TABLE IF EXISTS graftdd.db.orders_del")
    DeltaLite.write(spark, o.repartition(4), s"$wh/db/orders_del",
      collectStats = true) // v0
    spark.sql(
      "DELETE FROM graftdd.db.orders_del WHERE o_orderkey BETWEEN 1 AND 700")
    spark.sql("DELETE FROM graftdd.db.orders_del WHERE o_orderkey >= 2500")
    val v0Rows = spark
      .sql("SELECT count(*) FROM graftdd.db.orders_del VERSION AS OF 0")
      .collect()(0).getLong(0)
    val apiRows = DeltaLite.read(spark, s"$wh/db/orders_del").count()
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftdd.db.orders_del GROUP BY o_orderpriority""".stripMargin)
      .withColumn("rows_v0", lit(v0Rows))
      .withColumn("rows_api", lit(apiRows))
      .orderBy("prio")
  }

  /** X293: SQL DML on a DELETION-VECTOR-carrying Delta table — the
    * 100 TB shape DVs exist for. A table that already carries vectors
    * takes the DV route for SQL `DELETE` (new positions UNION into the
    * existing vectors, [[DeltaLite.deleteWhereDV]] — kilobytes written,
    * NO data-file rewrite) and the MASKED tagged scan for SQL `UPDATE`
    * (the copy-on-write rewrite starts from live rows, so the vectors'
    * deleted rows never resurrect). The key pins: file set unchanged
    * across the SQL DELETE, uncompacted SQL/API reads hash-matched, and
    * the post-UPDATE state correct. */
  private def deltaSqlDeleteDv(spark: SparkSession, dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftdvd.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_dvd")
        spark.conf.set("spark.sql.catalog.graftdvd",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftdvd.warehouse", w)
        w
      }
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    spark.sql("DROP TABLE IF EXISTS graftdvd.db.orders_dvd")
    val table = s"$wh/db/orders_dvd"
    DeltaLite.write(spark, o.repartition(4), table, collectStats = true)
    // seed vectors through the format API (the pre-existing DV state)
    DeltaLite.deleteWhereDV(spark, table, "o_orderkey", 100L, 200L)
    val filesBefore = DeltaLite.snapshotAt(spark, table).files.toSet
    // SQL DELETE on the DV table: vectors merge, data files untouched
    spark.sql("DELETE FROM graftdvd.db.orders_dvd " +
      "WHERE o_orderkey BETWEEN 201 AND 300")
    val snapAfter = DeltaLite.snapshotAt(spark, table)
    val noRewrite = snapAfter.files.toSet == filesBefore &&
      snapAfter.dvs.nonEmpty
    // SQL UPDATE through the masked scan: doubled prices for live keys
    // 301..400, deleted keys stay deleted
    spark.sql(
      """UPDATE graftdvd.db.orders_dvd SET o_totalprice = o_totalprice * 2
        |WHERE o_orderkey BETWEEN 301 AND 400""".stripMargin)
    val apiRows = DeltaLite.read(spark, table).count()
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftdvd.db.orders_dvd GROUP BY o_orderpriority""".stripMargin)
      .withColumn("dv_route_no_rewrite", lit(noRewrite))
      .withColumn("rows_api", lit(apiRows))
      .orderBy("prio")
  }

  /** X294: SQL row-level DML on a COLUMN-MAPPED Delta table — rename a
    * column (metadata-only), then SQL `UPDATE` binds by parquet FIELD ID
    * through the rename and stages its replacement files under PHYSICAL
    * names + field ids, so id-bound reads keep resolving on SQL-updated
    * files and versions below the rename still serve the original
    * names. */
  private def deltaCmSqlUpdate(spark: SparkSession, dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftcm.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_cmu")
        spark.conf.set("spark.sql.catalog.graftcm",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftcm.warehouse", w)
        w
      }
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val table = s"$wh/db/orders_cm"
    spark.sql("DROP TABLE IF EXISTS graftcm.db.orders_cm")
    DeltaLite.writeColumnMapped(spark, o, table)
    DeltaLite.renameColumn(spark, table, "o_totalprice", "price")
    // UPDATE binds `price` by field id; replacement files stage under
    // physical names so the rename stays metadata-only afterwards
    spark.sql(
      """UPDATE graftcm.db.orders_cm SET price = price * 2
        |WHERE o_orderkey BETWEEN 100 AND 300""".stripMargin)
    // the pre-rename version still serves its own (original) names
    val v0 = DeltaLite.read(spark, table, versionAsOf = 0L)
    val v0Original = v0.schema.fieldNames.toSeq ==
      Seq("o_orderkey", "o_totalprice", "o_orderpriority")
    val apiSum = DeltaLite.read(spark, table)
      .agg(org.apache.spark.sql.functions.round(
        org.apache.spark.sql.functions.sum(col("price")), 2))
      .head.getDouble(0)
    val sqlSum = spark.sql(
      "SELECT round(sum(price), 2) FROM graftcm.db.orders_cm")
      .head.getDouble(0)
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(price), 2) AS total
        |FROM graftcm.db.orders_cm GROUP BY o_orderpriority""".stripMargin)
      .withColumn("v0_original_names", lit(v0Original))
      .withColumn("api_agrees", lit(apiSum == sqlSum))
      .orderBy("prio")
  }

  /** X296: the MAINTENANCE verbs through SQL — `OPTIMIZE` + `VACUUM` on
    * Delta ([[graft.plans.MaintenanceSqlParser]], injected by
    * [[graft.functions.GraftExtensions]]): file count drops, the
    * compaction commit is dataChange=false so the change feed stays
    * SILENT across it, time travel below the rewrite keeps serving, and
    * VACUUM physically deletes exactly the files no retained version
    * references. */
  private def deltaSqlOptimize(spark: SparkSession, dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftmx.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_mx")
        spark.conf.set("spark.sql.catalog.graftmx",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftmx.warehouse", w)
        w
      }
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val table = s"$wh/db/orders_mx"
    spark.sql("DROP TABLE IF EXISTS graftmx.db.orders_mx")
    DeltaLite.write(spark, o.repartition(8), table, collectStats = true)
    DeltaLite.enableCdf(spark, table)
    val filesBefore = DeltaLite.snapshotAt(spark, table).files.size.toLong
    val opt = spark.sql("OPTIMIZE graftmx.db.orders_mx").collect()(0)
    val (optV, b, a) = (opt.getLong(0), opt.getLong(1), opt.getLong(2))
    // the change feed is SILENT across the dataChange=false compaction
    val cdfSilent = DeltaLite.readCdf(spark, table, optV, optV).count() == 0L
    // time travel below the rewrite keeps serving the pre-compaction files
    val v0Rows = spark.sql(
      "SELECT count(*) FROM graftmx.db.orders_mx VERSION AS OF 0")
      .collect()(0).getLong(0)
    // VACUUM deletes exactly the compacted-away files
    val deleted = spark.sql("VACUUM graftmx.db.orders_mx")
      .collect()(0).getLong(0)
    val v0AfterVacuum = // pre-compaction versions are gone from storage
      scala.util.Try(spark.sql(
        "SELECT count(*) FROM graftmx.db.orders_mx VERSION AS OF 0")
        .collect()(0).getLong(0)).isFailure
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftmx.db.orders_mx GROUP BY o_orderpriority""".stripMargin)
      .withColumn("compacted", lit(b == filesBefore && a < b))
      .withColumn("cdf_silent", lit(cdfSilent))
      .withColumn("rows_v0", lit(v0Rows))
      .withColumn("vacuumed", lit(deleted >= filesBefore - 1 &&
        v0AfterVacuum))
      .orderBy("prio")
  }

  /** X296: the Iceberg maintenance PROCEDURES through SQL —
    * `CALL cat.system.rewrite_data_files('db.t')` (bin-pack compaction,
    * operation `replace`, rows byte-identical) and
    * `CALL cat.system.expire_snapshots('db.t', keepLast)` (drop old
    * snapshots, delete only the files the dropped ones referenced). */
  private def icebergSqlMaintenance(spark: SparkSession,
      dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftmi.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_mi")
        spark.conf.set("spark.sql.catalog.graftmi",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftmi.warehouse", w)
        w
      }
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val table = s"$wh/db/orders_mi"
    spark.sql("DROP TABLE IF EXISTS graftmi.db.orders_mi")
    IcebergLite.write(spark, o.repartition(8), table)
    val filesBefore = IcebergLite.snapshotFiles(spark, table, -1L).size.toLong
    val rw = spark.sql(
      "CALL graftmi.system.rewrite_data_files('db.orders_mi')").collect()(0)
    val (b, a) = (rw.getLong(1), rw.getLong(2))
    val exp = spark.sql(
      "CALL graftmi.system.expire_snapshots('db.orders_mi', 1)").collect()(0)
    val (expired, deleted) = (exp.getLong(0), exp.getLong(1))
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftmi.db.orders_mi GROUP BY o_orderpriority""".stripMargin)
      .withColumn("compacted", lit(b == filesBefore && a < b))
      .withColumn("expired", lit(expired >= 1L && deleted >= 1L))
      .orderBy("prio")
  }

  /** X311: the BAD-INGEST REMEDIES through SQL — Iceberg
    * `CALL cat.system.rollback_to_snapshot('db.t', sid)` (a
    * METADATA-ONLY commit: `current-snapshot-id` + the `main` ref move
    * back, ZERO data I/O at any table size — undoing a terabyte-scale
    * mistake costs one small JSON write) and the Delta twin
    * `CALL cat.system.restore('db.t', v)` (a NEW commit carrying the
    * file-set diff). Both are history-PRESERVING: the orphaned bad head
    * stays time-travelable (pinned), and the next Iceberg commit
    * branches from the restored head — its parent pointer is the
    * divergence witness (pinned). */
  private def sqlCallRollback(spark: SparkSession, dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftrb.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_rb")
        spark.conf.set("spark.sql.catalog.graftrb",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftrb.warehouse", w)
        w
      }
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val total = o.count()
    val nBad = o.where(col("o_orderkey") <= 200).count()
    // Iceberg: good snapshot → bad double-ingest → CALL rollback
    val ti = s"$wh/db/orders_rbi"
    spark.sql("DROP TABLE IF EXISTS graftrb.db.orders_rbi")
    IcebergLite.write(spark, o, ti)
    val good = IcebergLite.currentSnapshotId(spark, ti)
    IcebergLite.write(spark, o.where(col("o_orderkey") <= 200), ti)
    val bad = IcebergLite.currentSnapshotId(spark, ti)
    val r = spark.sql("CALL graftrb.system.rollback_to_snapshot(" +
      s"'db.orders_rbi', ${good}L)").collect()(0)
    val rolledBack = r.getLong(0) == bad && r.getLong(1) == good &&
      spark.table("graftrb.db.orders_rbi").count() == total
    // the orphan is preserved (expirable, not rewound)
    val orphanOk = IcebergLite.read(spark, ti, bad).count() == total + nBad
    // the next commit branches FROM THE RESTORED HEAD
    IcebergLite.write(spark, o.where(col("o_orderkey") <= 100), ti)
    val branched = IcebergLite.parentSnapshotOf(spark, ti,
      IcebergLite.currentSnapshotId(spark, ti)).contains(good)
    // Delta twin: v0 good, v1 bad, CALL restore → v2 = v0's rows;
    // v1 still serves time travel
    val td = s"$wh/db/orders_rbd"
    spark.sql("DROP TABLE IF EXISTS graftrb.db.orders_rbd")
    DeltaLite.write(spark, o, td)
    DeltaLite.write(spark, o.where(col("o_orderkey") <= 200), td)
    val rr = spark.sql(
      "CALL graftrb.system.restore('db.orders_rbd', 0L)").collect()(0)
    val deltaRestored = rr.getLong(0) == 2L &&
      spark.table("graftrb.db.orders_rbd").count() == total &&
      DeltaLite.read(spark, td, versionAsOf = 1L).count() == total + nBad
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftrb.db.orders_rbi GROUP BY o_orderpriority""".stripMargin)
      .withColumn("rolled_back", lit(rolledBack))
      .withColumn("orphan_ok", lit(orphanOk))
      .withColumn("branched", lit(branched))
      .withColumn("delta_restored", lit(deltaRestored))
      .orderBy("prio")
  }

  /** X275b: STATIC partition overwrite through SQL — `INSERT OVERWRITE
    * … PARTITION (p = 'v')` replaces exactly that partition's files in
    * ONE commit ([[DeltaLite.writePartitioned]]`(replaceValue)`): the
    * other partitions' files are untouched (their add actions stay
    * live), and rows that would leak into sibling partitions refuse at
    * the format layer. The reference's daily re-ingest is exactly this
    * shape — replace today's partition, never rewrite the table. */
  private def deltaSqlOverwritePartition(spark: SparkSession,
      dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftpo.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_po")
        spark.conf.set("spark.sql.catalog.graftpo",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftpo.warehouse", w)
        w
      }
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    spark.sql("DROP TABLE IF EXISTS graftpo.db.orders_po")
    DeltaLite.writePartitioned(spark, o, s"$wh/db/orders_po",
      "o_orderpriority") // v0: all priorities
    o.where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"))
      .createOrReplaceTempView("po_src")
    spark.sql("""INSERT OVERWRITE graftpo.db.orders_po
      |PARTITION (o_orderpriority = '1-URGENT')
      |SELECT o_orderkey, o_totalprice FROM po_src""".stripMargin) // v1
    // the untouched partitions' files are CARRIED: planPartitioned on a
    // sibling value sees the same files before and after
    val (files1, _, _) = DeltaLite.planPartitioned(spark,
      s"$wh/db/orders_po", "o_orderpriority", Set("5-LOW"))
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftpo.db.orders_po GROUP BY o_orderpriority""".stripMargin)
      .withColumn("sibling_files", lit(files1.size.toLong > 0L))
      .orderBy("prio")
  }

  /** X283: an Iceberg TIME AXIS — snapshots carry real `timestamp-ms`
    * when the writer declares one ([[IcebergLite.write]]`(timestampMs)`,
    * the Delta in-commit-timestamp stance: the time axis lives IN the
    * commit, injectable so the differential gate stays deterministic),
    * and SQL `TIMESTAMP AS OF` resolves through the snapshot ledger.
    * Three stamped appends; reads at between-stamps and at-stamp
    * coordinates pinned, the current aggregate oracle-reproduced. */
  private def icebergTimestampAsOf(spark: SparkSession, dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftts.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_its")
        spark.conf.set("spark.sql.catalog.graftts",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftts.warehouse", w)
        w
      }
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    spark.sql("DROP TABLE IF EXISTS graftts.db.orders_ts")
    val table = s"$wh/db/orders_ts"
    IcebergLite.write(spark, o.where(col("o_orderkey") % 3 === 0), table,
      timestampMs = 1700000000000L)
    IcebergLite.write(spark, o.where(col("o_orderkey") % 3 === 1), table,
      timestampMs = 1700000100000L)
    IcebergLite.write(spark, o.where(col("o_orderkey") % 3 === 2), table,
      timestampMs = 1700000200000L)
    val atFirst = spark.sql(
      """SELECT count(*) FROM graftts.db.orders_ts
        |TIMESTAMP AS OF timestamp_millis(1700000050000)""".stripMargin)
      .collect()(0).getLong(0)
    val atSecond = spark.sql(
      """SELECT count(*) FROM graftts.db.orders_ts
        |TIMESTAMP AS OF timestamp_millis(1700000100000)""".stripMargin)
      .collect()(0).getLong(0)
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftts.db.orders_ts GROUP BY o_orderpriority""".stripMargin)
      .withColumn("rows_ts1", lit(atFirst))
      .withColumn("rows_ts2", lit(atSecond))
      .orderBy("prio")
  }

  /** X284: SQL `UPDATE` through the catalog — Spark's group-based
    * row-level rewrite over the file-tagged scan: the runtime group
    * filter narrows the rewrite to the files holding matched keys, the
    * replacement rows stream through the real DSv2 parquet BatchWrite,
    * and the commit swaps removes+adds as one log version. The key
    * pins the carried-file discipline (untouched files survive) beside
    * the oracle-reproduced post-update state. */
  private def deltaSqlUpdate(spark: SparkSession, dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftup.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_upd")
        spark.conf.set("spark.sql.catalog.graftup",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftup.warehouse", w)
        w
      }
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    spark.sql("DROP TABLE IF EXISTS graftup.db.orders_up")
    val table = s"$wh/db/orders_up"
    // key-clustered files: the 100..300 window then lives in ONE file
    // and the carried-file flag is meaningful at every scale factor
    DeltaLite.write(spark, o.repartitionByRange(4, col("o_orderkey")),
      table, collectStats = true)
    val before = DeltaLite.snapshotAt(spark, table).files.toSet
    spark.sql("""UPDATE graftup.db.orders_up
      |SET o_totalprice = o_totalprice * 2
      |WHERE o_orderkey BETWEEN 100 AND 300""".stripMargin)
    val after = DeltaLite.snapshotAt(spark, table).files.toSet
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftup.db.orders_up GROUP BY o_orderpriority""".stripMargin)
      .withColumn("rewrote_subset",
        lit(before.intersect(after).nonEmpty && (before -- after).nonEmpty))
      .orderBy("prio")
  }

  /** X284: SQL `MERGE INTO` through the catalog — the same group-based
    * rewrite driving update + delete + insert from ONE statement; the
    * oracle reproduces the merged state relationally. */
  private def deltaSqlMerge(spark: SparkSession, dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftmg.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_mrg")
        spark.conf.set("spark.sql.catalog.graftmg",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftmg.warehouse", w)
        w
      }
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    spark.sql("DROP TABLE IF EXISTS graftmg.db.orders_mg")
    DeltaLite.write(spark, o.where(col("o_orderkey") % 4 =!= 3)
      .repartition(4), s"$wh/db/orders_mg", collectStats = true)
    // upserts on evens (+500), deletes on k%8==1, inserts where unmatched
    o.where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"),
        (col("o_totalprice") + 500.0).as("o_totalprice"),
        col("o_orderpriority"), lit("U").as("op"))
      .unionAll(o.where(col("o_orderkey") % 8 === 1)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"), lit("D").as("op")))
      .createOrReplaceTempView("sqlmrg_src")
    spark.sql(
      """MERGE INTO graftmg.db.orders_mg t USING sqlmrg_src s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
        |WHEN NOT MATCHED AND s.op = 'U' THEN
        |  INSERT (o_orderkey, o_totalprice, o_orderpriority)
        |  VALUES (s.o_orderkey, s.o_totalprice, s.o_orderpriority)""".stripMargin)
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftmg.db.orders_mg GROUP BY o_orderpriority""".stripMargin)
      .orderBy("prio")
  }

  /** X317: WRITE-audit-publish entirely in SQL — the WAP loop's write
    * half: `INSERT INTO cat.db.t.branch_audit` commits ON THE BRANCH
    * (the branch-addressed table, X302's ref-read spelling made
    * writable), the audit read sees base + staged rows while MAIN is
    * untouched (pinned), tags refuse writes (immutable), and
    * fastForward publishes — the final main census is base ∪ staged
    * (oracle). */
  private def icebergSqlWriteBranch(spark: SparkSession,
      dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftbw.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_bw")
        spark.conf.set("spark.sql.catalog.graftbw",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftbw.warehouse", w)
        w
      }
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val total = o.count()
    val table = s"$wh/db/orders_bw"
    spark.sql("DROP TABLE IF EXISTS graftbw.db.orders_bw")
    IcebergLite.write(spark, o, table)
    IcebergLite.setRef(spark, table, "audit",
      IcebergLite.currentSnapshotId(spark, table), "branch")
    o.where(col("o_orderkey") <= 100)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .createOrReplaceTempView("bw_staged")
    spark.sql(
      "INSERT INTO graftbw.db.orders_bw.branch_audit " +
        "SELECT * FROM bw_staged")
    val nStaged = o.where(col("o_orderkey") <= 100).count()
    val auditSees = spark
      .table("graftbw.db.orders_bw.branch_audit").count() == total + nStaged
    val mainUntouched =
      spark.table("graftbw.db.orders_bw").count() == total
    IcebergLite.fastForward(spark, table, "audit")
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftbw.db.orders_bw GROUP BY o_orderpriority""".stripMargin)
      .withColumn("wap_ok", lit(auditSees && mainUntouched))
      .orderBy("prio")
  }

  /** X316: `DESCRIBE DETAIL`'s relation as the `t.detail` metadata
    * table — the operational one-row summary (format, file count,
    * bytes, recounted row count, version count) served off the
    * METADATA layer alone: Delta reads per-file log stats, Iceberg the
    * manifests' record_count sums; no data file opens. The row counts
    * are genuine recounts — the oracle pins them against the source
    * relation for both formats. */
  private def sqlDescribeDetail(spark: SparkSession, dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftdd.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_dd")
        spark.conf.set("spark.sql.catalog.graftdd",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftdd.warehouse", w)
        w
      }
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    spark.sql("DROP TABLE IF EXISTS graftdd.db.orders_dd")
    spark.sql("DROP TABLE IF EXISTS graftdd.db.orders_di")
    DeltaLite.write(spark, o.repartition(4), s"$wh/db/orders_dd",
      collectStats = true)
    IcebergLite.write(spark, o.repartition(4), s"$wh/db/orders_di")
    spark.sql(
      """SELECT format, num_files, num_records,
        |  size_in_bytes > 0 AS size_ok
        |FROM graftdd.db.orders_dd.detail
        |UNION ALL
        |SELECT format, num_files, num_records, size_in_bytes > 0
        |FROM graftdd.db.orders_di.detail
        |ORDER BY format""".stripMargin)
  }

  /** X315: `CALL system.rewrite_manifests` — MANIFEST compaction, the
    * metadata-scale remedy: a 100 TB table committing every few minutes
    * accumulates one manifest per commit and scan PLANNING (thousands
    * of small avro reads) becomes the bottleneck before scanning does.
    * The lifecycle stresses exactly what the rewrite must preserve:
    * append → equality-delete → RE-ADD of deleted keys (survive by
    * sequence) → position delete, then the CALL consolidates the data
    * manifests to ONE while each entry carries its ORIGINAL
    * sequence_number/snapshot_id explicitly (spec entry-level
    * inheritance) — the census is byte-identical before/after (oracle),
    * a post-rewrite delete still gates correctly, and the op is
    * row-silent in the change feeds. */
  private def icebergRewriteManifests(spark: SparkSession,
      dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftrm.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_rm")
        spark.conf.set("spark.sql.catalog.graftrm",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftrm.warehouse", w)
        w
      }
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val table = s"$wh/db/orders_rm"
    spark.sql("DROP TABLE IF EXISTS graftrm.db.orders_rm")
    IcebergLite.write(spark, o.repartition(3), table)
    IcebergLite.deleteWhereEquality(spark, table, "o_orderkey",
      (1L to 300L).toSeq)
    // re-add half the deleted range DOUBLED — survives the eq delete
    // by sequence; the rewrite must keep it that way
    IcebergLite.write(spark,
      o.where(col("o_orderkey") <= 150)
        .withColumn("o_totalprice", col("o_totalprice") * 2), table)
    IcebergLite.deleteWhere(spark, table, "o_orderkey", 400L, 500L)
    val r = spark.sql(
      "CALL graftrm.system.rewrite_manifests('db.orders_rm')").collect()(0)
    val consolidated = r.getLong(1) >= 2L && r.getLong(2) == 1L
    // a delete AFTER the rewrite still gates by the carried sequences
    IcebergLite.deleteWhere(spark, table, "o_orderkey", 501L, 600L)
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftrm.db.orders_rm GROUP BY o_orderpriority""".stripMargin)
      .withColumn("consolidated", lit(consolidated))
      .orderBy("prio")
  }

  /** X314: `TRUNCATE TABLE` through the catalog — the supported
    * spelling of "remove every row", committed METADATA-ONLY on both
    * formats (Delta: one remove-all commit; Iceberg: a `delete`
    * snapshot with an EMPTY manifest list — zero data I/O at any table
    * size). History is preserved (the pre-truncate state still
    * time-travels, pinned) and the next append starts a fresh live set
    * (the final census is only the re-inserted subset, oracle-pinned on
    * both formats in one key). */
  private def sqlTruncate(spark: SparkSession, dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.grafttr.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_tr")
        spark.conf.set("spark.sql.catalog.grafttr",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.grafttr.warehouse", w)
        w
      }
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val total = o.count()
    def runOn(fmt: String, tn: String): (DataFrame, Boolean) = {
      val t = s"$wh/db/$tn"
      spark.sql(s"DROP TABLE IF EXISTS grafttr.db.$tn")
      val v0 =
        if (fmt == "delta") DeltaLite.write(spark, o, t)
        else IcebergLite.write(spark, o, t)
      spark.sql(s"TRUNCATE TABLE grafttr.db.$tn")
      val emptied = spark.table(s"grafttr.db.$tn").count() == 0L
      val history =
        if (fmt == "delta") DeltaLite.read(spark, t, v0).count() == total
        else IcebergLite.read(spark, t, v0).count() == total
      val sub = o.where(col("o_orderkey") <= 500)
      if (fmt == "delta") DeltaLite.write(spark, sub, t)
      else IcebergLite.write(spark, sub, t)
      (spark.sql(
        s"""SELECT o_orderpriority AS prio, count(*) AS n,
           |  round(sum(o_totalprice), 2) AS total
           |FROM grafttr.db.$tn GROUP BY 1""".stripMargin),
        emptied && history)
    }
    val (d, dOk) = runOn("delta", "orders_tr_d")
    val (i, iOk) = runOn("iceberg", "orders_tr_i")
    val twinMatch = d.orderBy("prio").collect().toSeq ==
      i.orderBy("prio").collect().toSeq
    d.withColumn("lifecycle_ok", lit(dOk && iOk))
      .withColumn("twin_match", lit(twinMatch))
      .orderBy("prio")
  }

  /** X313: `MERGE INTO … WITH SCHEMA EVOLUTION` — the standard
    * CDC-landing shape when upstream adds a column: a source frame with
    * an extra column WIDENS the target before the rewrite plans
    * (Spark's native ResolveMergeIntoSchemaEvolution path, gated on the
    * clause AND the table's AUTOMATIC_SCHEMA_EVOLUTION capability — a
    * plain MERGE never auto-evolves). Both formats in one key: the same
    * evolving merge runs on Delta and Iceberg; pre-merge rows surface
    * the new column as NULL, merged rows carry values, and the two
    * formats' final censuses must agree (pinned). On Iceberg the
    * rewrite commit must then keep the EVOLVED schema current — head
    * commits record the table's current schema, not the head snapshot's
    * own (the two diverge after any metadata-only evolution). */
  private def sqlMergeEvolution(spark: SparkSession, dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftme.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_mevo")
        spark.conf.set("spark.sql.catalog.graftme",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftme.warehouse", w)
        w
      }
    val o = Tables.orders(spark, dir)
    val target = o.where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    // the evolved source: +500 on price, plus a column the target lacks
    o.where(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"),
        (col("o_totalprice") + 500.0).as("o_totalprice"),
        col("o_orderpriority"))
      .createOrReplaceTempView("mevo_src")
    def runOn(fmt: String, tn: String): DataFrame = {
      val t = s"$wh/db/$tn"
      spark.sql(s"DROP TABLE IF EXISTS graftme.db.$tn")
      if (fmt == "delta") DeltaLite.write(spark, target, t)
      else IcebergLite.write(spark, target, t)
      spark.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO graftme.db.$tn t
           |USING mevo_src s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      spark.sql(
        s"""SELECT coalesce(o_orderpriority, '(none)') AS prio,
           |  count(*) AS n, round(sum(o_totalprice), 2) AS total
           |FROM graftme.db.$tn GROUP BY 1""".stripMargin)
    }
    val d = runOn("delta", "orders_mevo_d").orderBy("prio")
    val i = runOn("iceberg", "orders_mevo_i").orderBy("prio")
    val twinMatch = d.collect().toSeq == i.collect().toSeq
    d.withColumn("twin_match", lit(twinMatch))
  }

  /** X288: SQL `UPDATE` on a PARTITIONED Delta table — the row-level
    * rewrite's write plan demands clustering+ordering on the partition
    * column, so the rolling writers emit one staged file per partition
    * value and every add action re-declares its partitionValues. The
    * key pins (a) carried files outside the touched partition, (b) the
    * writePartitioned invariant (every live file still carries
    * partitionValues — log-only pruning keeps working after SQL DML). */
  private def deltaSqlUpdatePartitioned(spark: SparkSession,
      dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftpu.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_pupd")
        spark.conf.set("spark.sql.catalog.graftpu",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftpu.warehouse", w)
        w
      }
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    spark.sql("DROP TABLE IF EXISTS graftpu.db.orders_pup")
    val table = s"$wh/db/orders_pup"
    DeltaLite.writePartitioned(spark, o, table, "o_orderpriority",
      collectStats = true)
    val before = DeltaLite.snapshotAt(spark, table).files.toSet
    spark.sql("""UPDATE graftpu.db.orders_pup
      |SET o_totalprice = o_totalprice * 2
      |WHERE o_orderpriority = '1-URGENT'""".stripMargin)
    val snap = DeltaLite.snapshotAt(spark, table)
    val after = snap.files.toSet
    val carried = before.intersect(after).nonEmpty && (before -- after).nonEmpty
    // every live file still declares its partition value, and the
    // partition planner prunes off the log alone
    val (urgentFiles, _, _) = DeltaLite.planPartitioned(spark, table,
      "o_orderpriority", Set("1-URGENT"))
    val pvalsDeclared = snap.pvals.keySet == after && urgentFiles.nonEmpty
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftpu.db.orders_pup GROUP BY o_orderpriority""".stripMargin)
      .withColumn("rewrote_subset", lit(carried))
      .withColumn("pvals_declared", lit(pvalsDeclared))
      .orderBy("prio")
  }

  /** X289: Iceberg IDENTITY partitioning end-to-end through SQL — the
    * spec's plainest transform and real warehouses' commonest layout:
    * `CREATE TABLE … PARTITIONED BY (col)`, inserts land partitioned
    * (manifest rows carry the raw value; `planPartitioned` prunes on it
    * alone), and `INSERT OVERWRITE … PARTITION (col = 'v')` replaces
    * exactly that partition's files in ONE overwrite snapshot
    * ([[IcebergLite.replacePartition]]) — sibling partitions carried by
    * reference, leaking rows refusing. */
  private def icebergPartitionIdentity(spark: SparkSession,
      dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftii.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_iid")
        spark.conf.set("spark.sql.catalog.graftii",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftii.warehouse", w)
        w
      }
    spark.sql("DROP TABLE IF EXISTS graftii.db.orders_id")
    spark.sql(
      """CREATE TABLE graftii.db.orders_id (
        |  o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)
        |USING iceberg PARTITIONED BY (o_orderpriority)""".stripMargin)
    val table = s"$wh/db/orders_id"
    Tables.orders(spark, dir).createOrReplaceTempView("iid_src")
    spark.sql("""INSERT INTO graftii.db.orders_id
      |SELECT o_orderkey, o_totalprice, o_orderpriority FROM iid_src""".stripMargin)
    val (_, nUrgent, nTotal) =
      IcebergLite.planPartitioned(spark, table, Set("1-URGENT"))
    val sibling = IcebergLite
      .planPartitioned(spark, table, Set("5-LOW"))._1.toSet
    spark.sql("""INSERT OVERWRITE graftii.db.orders_id
      |PARTITION (o_orderpriority = '1-URGENT')
      |SELECT o_orderkey, o_totalprice * 2 FROM iid_src
      |WHERE o_orderpriority = '1-URGENT'""".stripMargin)
    val siblingCarried = IcebergLite
      .planPartitioned(spark, table, Set("5-LOW"))._1.toSet == sibling
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftii.db.orders_id GROUP BY o_orderpriority""".stripMargin)
      .withColumn("pruned", lit(nUrgent < nTotal))
      .withColumn("sibling_carried", lit(siblingCarried))
      .orderBy("prio")
  }

  /** X290: SQL `UPDATE` on an identity-PARTITIONED Iceberg table — the
    * X288 rolling write with the commit landing through the manifest
    * arbiter: each rolling file's raw value becomes its manifest `p0`,
    * so partition pruning keeps planning correctly after SQL DML; the
    * untouched partition's files carry by reference. */
  private def icebergSqlUpdatePartitioned(spark: SparkSession,
      dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftip.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_ipup")
        spark.conf.set("spark.sql.catalog.graftip",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftip.warehouse", w)
        w
      }
    spark.sql("DROP TABLE IF EXISTS graftip.db.orders_ipu")
    spark.sql(
      """CREATE TABLE graftip.db.orders_ipu (
        |  o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)
        |USING iceberg PARTITIONED BY (o_orderpriority)""".stripMargin)
    val table = s"$wh/db/orders_ipu"
    Tables.orders(spark, dir).createOrReplaceTempView("ipu_src")
    spark.sql("""INSERT INTO graftip.db.orders_ipu
      |SELECT o_orderkey, o_totalprice, o_orderpriority FROM ipu_src""".stripMargin)
    val sibling = IcebergLite
      .planPartitioned(spark, table, Set("5-LOW"))._1.toSet
    spark.sql("""UPDATE graftip.db.orders_ipu
      |SET o_totalprice = o_totalprice * 2
      |WHERE o_orderpriority = '1-URGENT'""".stripMargin)
    // sibling partition carried byte-identical; the rewritten
    // partition's files still plan (their manifest p0 is declared)
    val siblingCarried = IcebergLite
      .planPartitioned(spark, table, Set("5-LOW"))._1.toSet == sibling
    val urgentPlanned = IcebergLite
      .planPartitioned(spark, table, Set("1-URGENT"))._1.nonEmpty
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftip.db.orders_ipu GROUP BY o_orderpriority""".stripMargin)
      .withColumn("rewrote_subset", lit(siblingCarried))
      .withColumn("pvals_declared", lit(urgentPlanned))
      .orderBy("prio")
  }

  /** X292: SQL `UPDATE` + `MERGE INTO` on HIDDEN-transform Iceberg
    * partitions — the partitioning real Iceberg tables actually use
    * (`bucket(8, o_orderkey)` on orders, `days(ts)` on events). The
    * row-level write clusters replacement rows by the TRANSFORM value
    * (resolved through the catalog's own FunctionCatalog, the SPJ
    * machinery) and the rolling writers recompute each staged file's
    * bucket/day for its manifest p0 — so after SQL DML: sibling
    * partitions' files carried byte-identical, partition pruning plans
    * EXACTLY the touched partition's replacement files (disjoint from
    * siblings — the files_scanned discipline), and the pre-update
    * snapshot still time-travels. */
  private def icebergSqlUpdateHidden(spark: SparkSession,
      dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftih.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_ihid")
        spark.conf.set("spark.sql.catalog.graftih",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftih.warehouse", w)
        w
      }
    // ---- bucket(8, o_orderkey) ---------------------------------------
    spark.sql("DROP TABLE IF EXISTS graftih.db.orders_ih")
    spark.sql(
      """CREATE TABLE graftih.db.orders_ih (
        |  o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)
        |USING iceberg PARTITIONED BY (bucket(8, o_orderkey))""".stripMargin)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .createOrReplaceTempView("ih_src")
    spark.sql("INSERT INTO graftih.db.orders_ih SELECT * FROM ih_src")
    val table = s"$wh/db/orders_ih"
    val pf = IcebergLite.PartField.bucket("o_orderkey", 8)
    val touched = (100L to 300L).map(k => pf.valueOf(k)).toSet
    val siblings = (0 until 8).map(_.toString).toSet -- touched
    val sibBefore = IcebergLite.planPartitioned(spark, table, siblings)._1.toSet
    val prevSnap = IcebergLite.currentSnapshotId(spark, table)
    spark.sql(
      """UPDATE graftih.db.orders_ih SET o_totalprice = o_totalprice * 2
        |WHERE o_orderkey BETWEEN 100 AND 300""".stripMargin)
    val sibCarried = siblings.isEmpty ||
      IcebergLite.planPartitioned(spark, table, siblings)._1.toSet == sibBefore
    val touchedPlan = IcebergLite.planPartitioned(spark, table, touched)._1.toSet
    val prunedExact = touchedPlan.nonEmpty &&
      touchedPlan.intersect(sibBefore).isEmpty
    // prior snapshot still serves the pre-update (smaller) prices
    val prevSum = spark.sql("SELECT sum(o_totalprice) FROM " +
      s"graftih.db.orders_ih VERSION AS OF $prevSnap").head.getDouble(0)
    val curSum = spark.sql(
      "SELECT sum(o_totalprice) FROM graftih.db.orders_ih").head.getDouble(0)
    val priorTravels = prevSum < curSum
    // MERGE through the same rolling path: matched rows land back in
    // their recomputed buckets
    spark.sql(
      """MERGE INTO graftih.db.orders_ih t
        |USING (SELECT o_orderkey, o_totalprice FROM ih_src
        |       WHERE o_orderkey % 10 = 0) s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice + 1000
        |""".stripMargin)
    // ---- days(ts) ----------------------------------------------------
    spark.sql("DROP TABLE IF EXISTS graftih.db.events_ih")
    spark.sql(
      """CREATE TABLE graftih.db.events_ih (
        |  event_id BIGINT, ts TIMESTAMP, value DOUBLE)
        |USING iceberg PARTITIONED BY (days(ts))""".stripMargin)
    Tables.events(spark, dir).select(col("event_id"), col("ts"), col("value"))
      .createOrReplaceTempView("ihe_src")
    spark.sql("INSERT INTO graftih.db.events_ih SELECT * FROM ihe_src")
    val et = s"$wh/db/events_ih"
    val day1 = java.time.LocalDate.of(2024, 1, 1).toEpochDay.toString
    val day2 = java.time.LocalDate.of(2024, 1, 2).toEpochDay.toString
    val day1Before = IcebergLite.planPartitioned(spark, et, Set(day1))._1.toSet
    spark.sql(
      """UPDATE graftih.db.events_ih SET value = value + 100
        |WHERE CAST(ts AS DATE) = DATE'2024-01-02'""".stripMargin)
    val dayCarried =
      IcebergLite.planPartitioned(spark, et, Set(day1))._1.toSet == day1Before
    val day2Plan = IcebergLite.planPartitioned(spark, et, Set(day2))._1.toSet
    val dayPruned = day2Plan.nonEmpty && day2Plan.intersect(day1Before).isEmpty
    val dayTotal = spark.sql(
      "SELECT round(sum(value), 2) FROM graftih.db.events_ih")
      .head.getDouble(0)
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftih.db.orders_ih GROUP BY o_orderpriority""".stripMargin)
      .withColumn("sibling_carried", lit(sibCarried))
      .withColumn("pruned_exact", lit(prunedExact))
      .withColumn("prior_travels", lit(priorTravels))
      .withColumn("day_carried", lit(dayCarried))
      .withColumn("day_pruned", lit(dayPruned))
      .withColumn("day_total", lit(dayTotal))
      .orderBy("prio")
  }

  /** X300: SQL row-level DML on MERGE-ON-READ delete state — the
    * Iceberg analog of X293 and the r14 verdict's top surface ask. A
    * real Iceberg pipeline streams MOR deletes (position AND equality)
    * all day and runs SQL UPDATE/MERGE on the same table; demanding
    * `rewriteDataFiles` first is a table rewrite at 100 TB. Here: SQL
    * DELETE takes the claimable MOR fast path (a position-delete
    * commit — kilobytes written, nothing rewritten), an EQUALITY delete
    * lands via the streaming-upsert API, then SQL UPDATE and MERGE run
    * with BOTH delete kinds applied READER-SIDE in the row-level scan
    * (per-file sequence-gated position masks; equality values checked
    * per row against each file's data sequence) — the copy-on-write
    * replacement starts from LIVE rows, so nothing resurrects, and the
    * commit refuses loudly if a conflicting delete lands in the
    * pin-to-commit window. Pinned: the table was UNCOMPACTED before the
    * DML (delete files live), the post-delete snapshot still
    * time-travels with its MOR state applied, and no deleted key
    * reappears. */
  private def icebergSqlUpdateMor(spark: SparkSession,
      dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftmor.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_imordml")
        spark.conf.set("spark.sql.catalog.graftmor",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftmor.warehouse", w)
        w
      }
    spark.sql("DROP TABLE IF EXISTS graftmor.db.orders_mordml")
    spark.sql(
      """CREATE TABLE graftmor.db.orders_mordml (
        |  o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)
        |USING iceberg""".stripMargin)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .createOrReplaceTempView("mordml_src")
    spark.sql("INSERT INTO graftmor.db.orders_mordml " +
      "SELECT * FROM mordml_src")
    val table = s"$wh/db/orders_mordml"
    // claimable SQL DELETE routes MERGE-ON-READ: a position-delete
    // commit, no data file rewritten
    val filesBefore = IcebergLite.snapshotFiles(spark, table, -1L).toSet
    spark.sql("DELETE FROM graftmor.db.orders_mordml " +
      "WHERE o_orderkey BETWEEN 1 AND 50")
    val morFastPath =
      IcebergLite.snapshotFiles(spark, table, -1L).toSet == filesBefore
    // equality delete: the streaming-upsert delete kind (values, no scan)
    IcebergLite.deleteWhereEquality(spark, table, "o_orderkey",
      (400L to 450L).toSeq)
    val uncompacted = IcebergLite.snapshotDeleteFiles(spark, table, -1L)
      .nonEmpty
    val prevSnap = IcebergLite.currentSnapshotId(spark, table)
    val prevCount = spark.sql(
      "SELECT count(*) FROM graftmor.db.orders_mordml").head.getLong(0)
    // SQL UPDATE + MERGE with the MOR state applied reader-side
    spark.sql(
      """UPDATE graftmor.db.orders_mordml
        |SET o_totalprice = o_totalprice * 2
        |WHERE o_orderkey BETWEEN 100 AND 300""".stripMargin)
    spark.sql(
      """MERGE INTO graftmor.db.orders_mordml t
        |USING (SELECT o_orderkey, o_totalprice FROM mordml_src
        |       WHERE o_orderkey % 10 = 0) s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice + 1000
        |""".stripMargin)
    // nothing resurrected: both deleted ranges stay gone through SQL
    val resurrected = spark.sql(
      """SELECT count(*) FROM graftmor.db.orders_mordml
        |WHERE o_orderkey BETWEEN 1 AND 50
        |   OR o_orderkey BETWEEN 400 AND 450""".stripMargin).head.getLong(0)
    // the pre-DML snapshot time-travels WITH its MOR state applied
    val travelCount = spark.sql("SELECT count(*) FROM " +
      s"graftmor.db.orders_mordml VERSION AS OF $prevSnap").head.getLong(0)
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftmor.db.orders_mordml GROUP BY o_orderpriority""".stripMargin)
      .withColumn("mor_fast_path", lit(morFastPath))
      .withColumn("uncompacted", lit(uncompacted))
      .withColumn("no_resurrection", lit(resurrected == 0L))
      .withColumn("prior_travels", lit(travelCount == prevCount))
      .orderBy("prio")
  }

  /** X302: `VERSION AS OF '<ref>'` — named branches/tags resolve in SQL.
    * The WAP workflow (X261s/v) stages on a branch and audits by tag;
    * until now the audit read had to leave SQL for `readRef`. A
    * non-numeric version literal resolves through the Iceberg refs map;
    * ref-pointed snapshots survive `expireSnapshots` (spec §Refs
    * retention), so the pinned audit read KEEPS serving after routine
    * retention has expired every un-reffed snapshot — both pinned
    * here: the tag read equals the tagged state after later appends AND
    * after expiration. */
  private def icebergSqlReadRef(spark: SparkSession,
      dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftref.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_iref")
        spark.conf.set("spark.sql.catalog.graftref",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftref.warehouse", w)
        w
      }
    spark.sql("DROP TABLE IF EXISTS graftref.db.orders_ref")
    spark.sql(
      """CREATE TABLE graftref.db.orders_ref (
        |  o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)
        |USING iceberg""".stripMargin)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .createOrReplaceTempView("ref_src")
    spark.sql("INSERT INTO graftref.db.orders_ref " +
      "SELECT * FROM ref_src WHERE o_orderkey % 2 = 0")
    val table = s"$wh/db/orders_ref"
    IcebergLite.setRef(spark, table, "audit",
      IcebergLite.currentSnapshotId(spark, table))
    spark.sql("INSERT INTO graftref.db.orders_ref " +
      "SELECT * FROM ref_src WHERE o_orderkey % 2 = 1")
    val atTag = spark.sql("SELECT count(*) FROM " +
      "graftref.db.orders_ref VERSION AS OF 'audit'").head.getLong(0)
    val atHead = spark.sql(
      "SELECT count(*) FROM graftref.db.orders_ref").head.getLong(0)
    // routine retention: every un-reffed snapshot expires, the tag stays
    val (expired, _) = IcebergLite.expireSnapshots(spark, table,
      keepLast = 1)
    val afterExpire = spark.sql("SELECT count(*) FROM " +
      "graftref.db.orders_ref VERSION AS OF 'audit'").head.getLong(0)
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftref.db.orders_ref VERSION AS OF 'audit'
        |GROUP BY o_orderpriority""".stripMargin)
      .withColumn("tag_pinned", lit(atTag < atHead))
      .withColumn("expired_some", lit(expired > 0L))
      .withColumn("tag_survives_expiry", lit(afterExpire == atTag))
      .orderBy("prio")
  }

  /** X285: SQL `UPDATE` through the catalog on an ICEBERG table — the
    * same group-based row-level rewrite as X284, committing through the
    * MANIFEST arbiter ([[IcebergLite.commitReplaceFiles]]): untouched
    * manifests carried by reference, one `overwrite` snapshot. The key
    * pins the carried-file discipline AND that the pre-update snapshot
    * still time-travels (the replaced files stay readable under the
    * prior manifest list). */
  private def icebergSqlUpdate(spark: SparkSession, dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftiu.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_iupd")
        spark.conf.set("spark.sql.catalog.graftiu",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftiu.warehouse", w)
        w
      }
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    spark.sql("DROP TABLE IF EXISTS graftiu.db.orders_iu")
    val table = s"$wh/db/orders_iu"
    // key-clustered files: the 100..300 window lives in ONE file, so the
    // carried-file flag is meaningful at every scale factor
    IcebergLite.write(spark, o.repartitionByRange(4, col("o_orderkey")),
      table)
    val snapBefore = IcebergLite.snapshotFiles(spark, table, -1L).toSet
    spark.sql("""UPDATE graftiu.db.orders_iu
      |SET o_totalprice = o_totalprice * 2
      |WHERE o_orderkey BETWEEN 100 AND 300""".stripMargin)
    val snapAfter = IcebergLite.snapshotFiles(spark, table, -1L).toSet
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftiu.db.orders_iu GROUP BY o_orderpriority""".stripMargin)
      .withColumn("rewrote_subset",
        lit(snapBefore.intersect(snapAfter).nonEmpty &&
          (snapBefore -- snapAfter).nonEmpty))
      .orderBy("prio")
  }

  /** X285: SQL `MERGE INTO` an Iceberg table — update + delete + insert
    * in one statement through the group-based rewrite, landing as one
    * manifest-arbiter overwrite snapshot; the oracle reproduces the
    * merged state relationally. */
  private def icebergSqlMerge(spark: SparkSession, dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftig.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_imrg")
        spark.conf.set("spark.sql.catalog.graftig",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftig.warehouse", w)
        w
      }
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    spark.sql("DROP TABLE IF EXISTS graftig.db.orders_ig")
    IcebergLite.write(spark, o.where(col("o_orderkey") % 4 =!= 3)
      .repartition(4), s"$wh/db/orders_ig")
    // upserts on evens (+500), deletes on k%8==1, inserts where unmatched
    o.where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"),
        (col("o_totalprice") + 500.0).as("o_totalprice"),
        col("o_orderpriority"), lit("U").as("op"))
      .unionAll(o.where(col("o_orderkey") % 8 === 1)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"), lit("D").as("op")))
      .createOrReplaceTempView("icemrg_src")
    spark.sql(
      """MERGE INTO graftig.db.orders_ig t USING icemrg_src s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
        |WHEN NOT MATCHED AND s.op = 'U' THEN
        |  INSERT (o_orderkey, o_totalprice, o_orderpriority)
        |  VALUES (s.o_orderkey, s.o_totalprice, s.o_orderpriority)""".stripMargin)
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftig.db.orders_ig GROUP BY o_orderpriority""".stripMargin)
      .orderBy("prio")
  }

  /** X286: REAL `writeStream.toTable` through the catalog — the
    * streaming ingest shape (the reference's scheduled batch ingest,
    * re-expressed as Structured Streaming): a file-source stream over
    * the orders parquet drains under `Trigger.AvailableNow` into a
    * catalog-created table via the DSv2 `StreamingWrite` (executors
    * stage epoch parquet, the driver commits each epoch through the
    * format's idempotent arbiter). The key pins exactly-once by
    * REPLAYING an epoch against the ledger (version unchanged) beside
    * the oracle-reproduced table state. */
  private def streamToTable(spark: SparkSession, dir: String,
      fmt: String): DataFrame = {
    val catName = s"graftsw$fmt".take(12)
    val wh = spark.conf
      .getOption(s"spark.sql.catalog.$catName.warehouse").getOrElse {
        val w = Sinks.tempDir(s"cat_wh_sw_$fmt")
        spark.conf.set(s"spark.sql.catalog.$catName",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$catName.warehouse", w)
        w
      }
    spark.sql(s"DROP TABLE IF EXISTS $catName.db.orders_st")
    spark.sql(
      s"""CREATE TABLE $catName.db.orders_st (
         |  o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)
         |USING $fmt""".stripMargin)
    val table = s"$wh/db/orders_st"
    // the testdata table is a single parquet FILE; the file stream
    // source wants a directory to watch — stage a copy (control plane,
    // one file)
    val srcDir = Sinks.tempDir(s"st2t_src_$fmt")
    val hconf = spark.sparkContext.hadoopConfiguration
    val hfs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
    org.apache.hadoop.fs.FileUtil.copy(hfs,
      new org.apache.hadoop.fs.Path(s"$dir/orders.parquet"), hfs,
      new org.apache.hadoop.fs.Path(s"$srcDir/orders.parquet"),
      false, hconf)
    val q = spark.readStream.schema(Tables.orders(spark, dir).schema)
      .parquet(srcDir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .writeStream
      .option("checkpointLocation", Sinks.tempDir(s"st2t_ckpt_$fmt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(s"$catName.db.orders_st")
    q.awaitTermination()
    // epoch replay no-ops on the ledger — the exactly-once pin
    val dedup =
      if (fmt == "delta") {
        val v = DeltaLite.latestVersion(spark, table)
        DeltaLite.commitStreamFiles(spark, table, Nil, epochId = 0L)
        DeltaLite.latestVersion(spark, table) == v
      } else {
        val v = IcebergLite.latestMetadataVersion(spark, table)
        IcebergLite.commitStreamFiles(spark, table, Nil, epochId = 0L)
        IcebergLite.latestMetadataVersion(spark, table) == v
      }
    spark.sql(
      s"""SELECT o_orderpriority AS prio, count(*) AS n,
         |  round(sum(o_totalprice), 2) AS total
         |FROM $catName.db.orders_st GROUP BY o_orderpriority""".stripMargin)
      .withColumn("exactly_once", lit(dedup))
      .orderBy("prio")
  }

  /** X295: PARTITIONED `writeStream.toTable` — the streaming ingest
    * shape landing in a PARTITIONED Delta table: the epoch's rows
    * cluster+sort by the partition column (the Write's required
    * distribution, honored for micro-batch writes), ROLLING writers
    * stage one file per (task, value) and report each with its value,
    * and the commit declares partitionValues on every add — so log-only
    * pruning works on the streamed sink exactly as on batch writes. The
    * key pins partitionValues completeness + exactness (planPartitioned
    * refuses value-less files; the pruned set is a strict subset) and
    * the per-query exactly-once replay. */
  private def streamToTablePartitioned(spark: SparkSession,
      dir: String): DataFrame = {
    val catName = "graftswp"
    val wh = spark.conf
      .getOption(s"spark.sql.catalog.$catName.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_swp")
        spark.conf.set(s"spark.sql.catalog.$catName",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$catName.warehouse", w)
        w
      }
    spark.sql(s"DROP TABLE IF EXISTS $catName.db.orders_swp")
    spark.sql(
      s"""CREATE TABLE $catName.db.orders_swp (
         |  o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)
         |USING delta PARTITIONED BY (o_orderpriority)""".stripMargin)
    val table = s"$wh/db/orders_swp"
    val srcDir = Sinks.tempDir("swp_src")
    val hconf = spark.sparkContext.hadoopConfiguration
    val hfs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
    org.apache.hadoop.fs.FileUtil.copy(hfs,
      new org.apache.hadoop.fs.Path(s"$dir/orders.parquet"), hfs,
      new org.apache.hadoop.fs.Path(s"$srcDir/orders.parquet"),
      false, hconf)
    val q = spark.readStream.schema(Tables.orders(spark, dir).schema)
      .parquet(srcDir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .writeStream
      .option("checkpointLocation", Sinks.tempDir("swp_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(s"$catName.db.orders_swp")
    q.awaitTermination()
    // planPartitioned REFUSES tables with value-less files, so a
    // successful call proves every streamed add declared its value; the
    // urgent partition's plan is a strict, non-empty subset
    val (uFiles, matched, total) = DeltaLite.planPartitioned(spark, table,
      "o_orderpriority", Set("1-URGENT"))
    val pruned = matched > 0 && matched < total &&
      uFiles.toSet.size == matched
    // per-query exactly-once: replay epoch 0 under the query's OWN ledger
    val appId = DeltaLite.snapshotAt(spark, table).txns.keys
      .find(_.startsWith(DeltaLite.TxnAppId)).getOrElse(DeltaLite.TxnAppId)
    val v = DeltaLite.latestVersion(spark, table)
    DeltaLite.commitStreamFiles(spark, table, Nil, epochId = 0L,
      appId = appId)
    val dedup = DeltaLite.latestVersion(spark, table) == v
    spark.sql(
      s"""SELECT o_orderpriority AS prio, count(*) AS n,
         |  round(sum(o_totalprice), 2) AS total
         |FROM $catName.db.orders_swp GROUP BY o_orderpriority""".stripMargin)
      .withColumn("pvals_pruned", lit(pruned))
      .withColumn("exactly_once", lit(dedup))
      .orderBy("prio")
  }

  /** X295, Iceberg side (r14 verdict ask #5): PARTITIONED
    * `writeStream.toTable` into an Iceberg table under a HIDDEN
    * transform spec — the streaming ingest shape at 100 TB (the table
    * big enough to stream into is partitioned, and Iceberg partitions
    * by transform): each epoch's rows cluster+sort by the transform
    * value, ROLLING writers stage one file per (task, value), and the
    * epoch commit records manifest p0 — so manifest-grain pruning works
    * on the streamed sink exactly as on batch writes. Pins
    * partitionValues completeness + pruning exactness and the
    * per-query-ledger exactly-once replay. */
  private def icebergStreamToTablePartitioned(spark: SparkSession,
      dir: String): DataFrame = {
    val catName = "graftiswp"
    val wh = spark.conf
      .getOption(s"spark.sql.catalog.$catName.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_iswp")
        spark.conf.set(s"spark.sql.catalog.$catName",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$catName.warehouse", w)
        w
      }
    spark.sql(s"DROP TABLE IF EXISTS $catName.db.orders_iswp")
    spark.sql(
      s"""CREATE TABLE $catName.db.orders_iswp (
         |  o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)
         |USING iceberg
         |PARTITIONED BY (truncate(1, o_orderpriority))""".stripMargin)
    val table = s"$wh/db/orders_iswp"
    val srcDir = Sinks.tempDir("iswp_src")
    val hconf = spark.sparkContext.hadoopConfiguration
    val hfs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
    org.apache.hadoop.fs.FileUtil.copy(hfs,
      new org.apache.hadoop.fs.Path(s"$dir/orders.parquet"), hfs,
      new org.apache.hadoop.fs.Path(s"$srcDir/orders.parquet"),
      false, hconf)
    val q = spark.readStream.schema(Tables.orders(spark, dir).schema)
      .parquet(srcDir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .writeStream
      .option("checkpointLocation", Sinks.tempDir("iswp_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(s"$catName.db.orders_iswp")
    q.awaitTermination()
    // manifest-grain pruning on the streamed sink: the '1' truncate
    // value (1-URGENT) plans a strict, non-empty file subset
    val (uFiles, matched, total) =
      IcebergLite.planPartitioned(spark, table, Set("1"))
    val pruned = matched > 0 && matched < total &&
      uFiles.toSet.size.toLong == matched
    // per-query exactly-once: replay epoch 0 under the query's own
    // ledger (appId = the streaming query id) — must no-op
    val v = IcebergLite.latestMetadataVersion(spark, table)
    IcebergLite.commitStreamFiles(spark, table, Nil, epochId = 0L,
      appId = q.id.toString)
    val dedup = IcebergLite.latestMetadataVersion(spark, table) == v
    spark.sql(
      s"""SELECT o_orderpriority AS prio, count(*) AS n,
         |  round(sum(o_totalprice), 2) AS total
         |FROM $catName.db.orders_iswp GROUP BY o_orderpriority""".stripMargin)
      .withColumn("pvals_pruned", lit(pruned))
      .withColumn("exactly_once", lit(dedup))
      .orderBy("prio")
  }

  /** X297: the change feed as a STREAMING source — `cat.db.t.changes`
    * drains a DML history (insert → SQL DELETE → merge upserts) as
    * micro-batches equal to the batch feed relation / [[DeltaLite
    * .readCdf]]: the row-level-DML table streams, where the append-only
    * `readStream.table(t)` rightly refuses rewrites. The key pins the
    * stream≡batch parity and oracles the feed census relationally. */
  private def deltaCdfStream(spark: SparkSession, dir: String): DataFrame = {
    val catName = "graftcf"
    val wh = spark.conf
      .getOption(s"spark.sql.catalog.$catName.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_cf")
        spark.conf.set(s"spark.sql.catalog.$catName",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$catName.warehouse", w)
        w
      }
    spark.sql(s"DROP TABLE IF EXISTS $catName.db.orders_cf")
    spark.sql(
      s"""CREATE TABLE $catName.db.orders_cf (
         |  o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)
         |USING delta""".stripMargin)                                  // v0
    val table = s"$wh/db/orders_cf"
    DeltaLite.enableCdf(spark, table)                                  // v1
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    o.createOrReplaceTempView("cf_src")
    spark.sql(s"INSERT INTO $catName.db.orders_cf SELECT * FROM cf_src") // v2
    spark.sql(s"DELETE FROM $catName.db.orders_cf " +
      "WHERE o_orderkey BETWEEN 1 AND 700")                            // v3
    // merge: matched %100==0 keys update (+1000); the deleted ones among
    // them re-insert — both images ride the feed as cdc
    DeltaLite.mergeInto(spark, table,
      o.where(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"),
          col("o_orderpriority")),
      "o_orderkey")                                                    // v4
    // stream≡batch: drain the feed from the first data version and
    // compare censuses
    val batch = spark.sql(s"SELECT * FROM $catName.db.orders_cf.changes")
    val batchN = batch.count()
    val drained = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream.option("startingVersion", "2")
      .table(s"$catName.db.orders_cf.changes")
      .writeStream
      .foreachBatch((df: DataFrame, _: Long) => {
        drained.addAndGet(df.count()); ()
      })
      .option("checkpointLocation", Sinks.tempDir("cf_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    batch.groupBy(col("_change_type").as("ct"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .withColumn("stream_equals_batch", lit(drained.get() == batchN))
      .orderBy("ct")
  }

  /** X297, Iceberg side: the change feed streamed from `t.changes` —
    * inserts + MOR position-deletes drain as micro-batches equal to the
    * batch relation / [[IcebergLite.readChangelog]]; position-delete
    * commits announce EXACTLY the rows they masked (the reader emits
    * those file positions), re-deletes announce only their fresh
    * positions, so the census reproduces relationally. */
  private def icebergCdfStream(spark: SparkSession, dir: String): DataFrame = {
    val catName = "grafticf"
    val wh = spark.conf
      .getOption(s"spark.sql.catalog.$catName.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_icf")
        spark.conf.set(s"spark.sql.catalog.$catName",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$catName.warehouse", w)
        w
      }
    spark.sql(s"DROP TABLE IF EXISTS $catName.db.orders_icf")
    spark.sql(
      s"""CREATE TABLE $catName.db.orders_icf (
         |  o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)
         |USING iceberg""".stripMargin)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    o.createOrReplaceTempView("icf_src")
    spark.sql(s"INSERT INTO $catName.db.orders_icf SELECT * FROM icf_src")
    spark.sql(s"DELETE FROM $catName.db.orders_icf " +
      "WHERE o_orderkey BETWEEN 1 AND 700") // MOR position delete
    spark.sql(s"INSERT INTO $catName.db.orders_icf " +
      "SELECT o_orderkey + 1000000, o_totalprice, o_orderpriority " +
      "FROM icf_src WHERE o_orderkey % 2 = 0")
    // overlapping re-delete: only the FRESH positions announce.
    // (The equality-delete and SQL-DML change kinds live in their own
    // key, x_iceberg_cdf_stream_dml — this key is FROZEN so bench
    // diffs stay attributable round over round.)
    spark.sql(s"DELETE FROM $catName.db.orders_icf " +
      "WHERE o_orderkey BETWEEN 600 AND 800")
    val batch = spark.sql(
      s"SELECT * FROM $catName.db.orders_icf.changes")
    val batchN = batch.count()
    val drained = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream.option("startingVersion", "1")
      .table(s"$catName.db.orders_icf.changes")
      .writeStream
      .foreachBatch((df: DataFrame, _: Long) => {
        drained.addAndGet(df.count()); ()
      })
      .option("checkpointLocation", Sinks.tempDir("icf_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    batch.groupBy(col("_change_type").as("ct"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .withColumn("stream_equals_batch", lit(drained.get() == batchN))
      .orderBy("ct")
  }

  /** The DML change kinds of the Iceberg feed, split out of
    * [[icebergCdfStream]] so that key stays frozen: EQUALITY deletes —
    * single-column (X301) AND composite-key tuples (X305, previously a
    * stated executor-side refusal) — stream their feed, a sequence-
    * gated upsert re-insert survives them, and SQL UPDATE succeeds on a
    * table CARRYING a composite equality delete (the row-level scan's
    * MorMask now evaluates N-column tuples). The stream drains the
    * whole lifecycle — eq-delete units (emitEq/skipEq tuple payloads)
    * plus the UPDATE's COW overwrite — and must equal the batch feed;
    * the oracle pins the FINAL table census, which is exactly the
    * over-delete hazard: rows sharing ONE key column with a deleted
    * tuple must survive. */
  private def icebergCdfStreamDml(spark: SparkSession,
      dir: String): DataFrame = {
    val catName = "grafticfd"
    val wh = spark.conf
      .getOption(s"spark.sql.catalog.$catName.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_icfd")
        spark.conf.set(s"spark.sql.catalog.$catName",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$catName.warehouse", w)
        w
      }
    spark.sql(s"DROP TABLE IF EXISTS $catName.db.orders_icfd")
    spark.sql(
      s"""CREATE TABLE $catName.db.orders_icfd (
         |  o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)
         |USING iceberg""".stripMargin)
    val table = s"$wh/db/orders_icfd"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    o.createOrReplaceTempView("icfd_src")
    spark.sql(s"INSERT INTO $catName.db.orders_icfd SELECT * FROM icfd_src")
    // single-column equality delete (X301)
    IcebergLite.deleteWhereEquality(spark, table,
      "o_orderkey", (900L to 950L).toSeq)
    // COMPOSITE-key equality delete (X305): (key, priority) tuples —
    // non-urgent rows sharing a key with a deleted tuple must survive
    IcebergLite.deleteWhereEqualityRows(spark, table,
      spark.range(1, 1001).select(col("id").as("o_orderkey"),
        lit("1-URGENT").as("o_orderpriority")))
    // upsert one tuple-deleted row back: its higher data sequence
    // exempts it from BOTH earlier deletes
    IcebergLite.write(spark,
      o.where(col("o_orderkey") <= 1000 &&
          col("o_orderpriority") === "1-URGENT")
        .orderBy("o_orderkey").limit(1)
        .select(col("o_orderkey"),
          (col("o_totalprice") + 5000.0).as("o_totalprice"),
          col("o_orderpriority")), table)
    // SQL UPDATE on a table CARRYING a composite equality delete — the
    // r15 refusal, now served: the COW scan masks tuple-deleted rows,
    // so the rewrite never resurrects them
    spark.sql(s"UPDATE $catName.db.orders_icfd " +
      "SET o_totalprice = o_totalprice + 10.0 WHERE o_orderkey % 500 = 0")
    val batch = spark.sql(
      s"SELECT * FROM $catName.db.orders_icfd.changes")
    val batchN = batch.count()
    val drained = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream.option("startingVersion", "1")
      .table(s"$catName.db.orders_icfd.changes")
      .writeStream
      .foreachBatch((df: DataFrame, _: Long) => {
        drained.addAndGet(df.count()); ()
      })
      .option("checkpointLocation", Sinks.tempDir("icfd_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.sql(s"SELECT * FROM $catName.db.orders_icfd")
      .groupBy(col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .withColumn("stream_equals_batch", lit(drained.get() == batchN))
      .orderBy("prio")
  }

  /** X287: SQL `ALTER TABLE ADD COLUMNS` through the catalog — a
    * METADATA-ONLY widening (Delta: one re-declared metaData commit;
    * Iceberg: a new schema-id, no snapshot): the key creates a narrow
    * table, inserts half the rows, widens, inserts the other half WITH
    * the new column, and pins (a) not a byte moved by the ALTER,
    * (b) pre-evolution rows surfacing the column as NULL — against the
    * relational oracle. */
  private def sqlAlter(spark: SparkSession, dir: String,
      fmt: String): DataFrame = {
    val catName = s"graftal$fmt".take(12)
    val wh = spark.conf
      .getOption(s"spark.sql.catalog.$catName.warehouse").getOrElse {
        val w = Sinks.tempDir(s"cat_wh_al_$fmt")
        spark.conf.set(s"spark.sql.catalog.$catName",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$catName.warehouse", w)
        w
      }
    spark.sql(s"DROP TABLE IF EXISTS $catName.db.orders_alt")
    spark.sql(
      s"""CREATE TABLE $catName.db.orders_alt (
         |  o_orderkey BIGINT, o_totalprice DOUBLE) USING $fmt""".stripMargin)
    val table = s"$wh/db/orders_alt"
    Tables.orders(spark, dir).createOrReplaceTempView("alter_src")
    spark.sql(s"""INSERT INTO $catName.db.orders_alt
      |SELECT o_orderkey, o_totalprice FROM alter_src
      |WHERE o_orderkey % 2 = 0""".stripMargin)
    def files(): Set[String] =
      if (fmt == "delta") DeltaLite.snapshotAt(spark, table).files.toSet
      else IcebergLite.snapshotFiles(spark, table, -1L).toSet
    val before = files()
    spark.sql(
      s"ALTER TABLE $catName.db.orders_alt ADD COLUMNS (o_orderpriority STRING)")
    val metadataOnly = files() == before
    spark.sql(s"""INSERT INTO $catName.db.orders_alt
      |SELECT o_orderkey, o_totalprice, o_orderpriority FROM alter_src
      |WHERE o_orderkey % 2 = 1""".stripMargin)
    spark.sql(
      s"""SELECT COALESCE(o_orderpriority, 'PRE-EVOLUTION') AS prio,
         |  count(*) AS n, round(sum(o_totalprice), 2) AS total
         |FROM $catName.db.orders_alt GROUP BY 1""".stripMargin)
      .withColumn("metadata_only", lit(metadataOnly))
      .orderBy("prio")
  }

  /** X308: Iceberg `ALTER TABLE RENAME/DROP COLUMN` as NATIVE
    * metadata-only schema evolution (spec §Schema Evolution — schemas
    * are immutable and id-addressed, a field keeps its id across
    * renames and ids are never reused after a drop): rename mints a new
    * schema-id with the SAME field id, reads resolve each data file's
    * parquet names through its WRITE schema by id (pre-rename files
    * keep serving under the new name — not a byte moved), a widened
    * append mixes name epochs in one table, and time travel below the
    * rename answers under the ORIGINAL name. The key also drops a
    * column metadata-only and pins that the dropped values are gone
    * from the head read while the pre-drop snapshot still serves them. */
  private def icebergSqlAlterRename(spark: SparkSession,
      dir: String): DataFrame = {
    val catName = "graftar"
    val wh = spark.conf
      .getOption(s"spark.sql.catalog.$catName.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_ar")
        spark.conf.set(s"spark.sql.catalog.$catName",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$catName.warehouse", w)
        w
      }
    spark.sql(s"DROP TABLE IF EXISTS $catName.db.orders_ar")
    spark.sql(
      s"""CREATE TABLE $catName.db.orders_ar (
         |  o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING,
         |  junk BIGINT)
         |USING iceberg""".stripMargin)
    val table = s"$wh/db/orders_ar"
    Tables.orders(spark, dir).createOrReplaceTempView("ar_src")
    spark.sql(s"""INSERT INTO $catName.db.orders_ar
      |SELECT o_orderkey, o_totalprice, o_orderpriority, o_orderkey
      |FROM ar_src WHERE o_orderkey % 2 = 0""".stripMargin)
    val snap1 = IcebergLite.currentSnapshotId(spark, table)
    def files(): Set[String] =
      IcebergLite.snapshotFiles(spark, table, -1L).toSet
    val before = files()
    spark.sql(
      s"ALTER TABLE $catName.db.orders_ar RENAME COLUMN o_totalprice TO price")
    spark.sql(s"ALTER TABLE $catName.db.orders_ar DROP COLUMN junk")
    val metadataOnly = files() == before
    // widened append under the NEW name — epochs now mix in one table
    spark.sql(s"""INSERT INTO $catName.db.orders_ar
      |SELECT o_orderkey, o_totalprice, o_orderpriority
      |FROM ar_src WHERE o_orderkey % 2 = 1""".stripMargin)
    // time travel BELOW the rename: the ORIGINAL names answer
    val tt = spark.sql(
      s"""SELECT count(*) AS n, round(sum(o_totalprice), 2) AS t,
         |  sum(junk) AS j
         |FROM $catName.db.orders_ar VERSION AS OF $snap1""".stripMargin)
      .collect().head
    spark.sql(
      s"""SELECT o_orderpriority AS prio, count(*) AS n,
         |  round(sum(price), 2) AS total
         |FROM $catName.db.orders_ar GROUP BY 1""".stripMargin)
      .withColumn("metadata_only", lit(metadataOnly))
      .withColumn("tt_n", lit(tt.getLong(0)))
      .withColumn("tt_total", lit(tt.getDouble(1)))
      .withColumn("tt_junk", lit(tt.getLong(2)))
      .orderBy("prio")
  }

  /** X291: streaming READ from a catalog table —
    * `spark.readStream.table(…)` with the commit log as the offset
    * axis: the first drain's batch is the table's snapshot, and a
    * RESUMED query (same checkpoint) processes ONLY the versions
    * committed since — pinned by the two drained row counts riding in
    * the key beside the oracle-reproduced table state. */
  private def streamRead(spark: SparkSession, dir: String,
      fmt: String): DataFrame = {
    val catName = s"graftrd$fmt".take(12)
    val wh = spark.conf
      .getOption(s"spark.sql.catalog.$catName.warehouse").getOrElse {
        val w = Sinks.tempDir(s"cat_wh_rd_$fmt")
        spark.conf.set(s"spark.sql.catalog.$catName",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$catName.warehouse", w)
        w
      }
    spark.sql(s"DROP TABLE IF EXISTS $catName.db.orders_rd")
    spark.sql(
      s"""CREATE TABLE $catName.db.orders_rd (
         |  o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)
         |USING $fmt""".stripMargin)
    Tables.orders(spark, dir).createOrReplaceTempView("rd_src")
    spark.sql(s"""INSERT INTO $catName.db.orders_rd
      |SELECT o_orderkey, o_totalprice, o_orderpriority FROM rd_src
      |WHERE o_orderkey % 2 = 0""".stripMargin)
    val ckpt = Sinks.tempDir(s"rd_ckpt_$fmt")
    def drain(): Long = {
      val n = new java.util.concurrent.atomic.AtomicLong(0)
      val q = spark.readStream.table(s"$catName.db.orders_rd")
        .writeStream
        .foreachBatch((df: DataFrame, _: Long) => { n.addAndGet(df.count()); () })
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      n.get()
    }
    val batch1 = drain() // the initial snapshot (evens)
    spark.sql(s"""INSERT INTO $catName.db.orders_rd
      |SELECT o_orderkey, o_totalprice, o_orderpriority FROM rd_src
      |WHERE o_orderkey % 2 = 1""".stripMargin)
    val batch2 = drain() // resumed: ONLY the appended odds
    spark.sql(
      s"""SELECT o_orderpriority AS prio, count(*) AS n,
         |  round(sum(o_totalprice), 2) AS total
         |FROM $catName.db.orders_rd GROUP BY o_orderpriority""".stripMargin)
      .withColumn("batch1_rows", lit(batch1))
      .withColumn("batch2_rows", lit(batch2))
      .orderBy("prio")
  }

  /** X282, Iceberg side: SQL DELETE lands as a merge-on-read position-
    * delete commit — no data file rewritten — and the post-delete SQL
    * read serves UNCOMPACTED through the MOR bridge (X276): two
    * features composing through the same front door. */
  private def icebergSqlDelete(spark: SparkSession, dir: String): DataFrame = {
    val wh = spark.conf
      .getOption("spark.sql.catalog.graftid.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_idel")
        spark.conf.set("spark.sql.catalog.graftid",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftid.warehouse", w)
        w
      }
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    spark.sql("DROP TABLE IF EXISTS graftid.db.orders_del")
    IcebergLite.write(spark, o.repartition(4), s"$wh/db/orders_del") // snap 1
    spark.sql(
      "DELETE FROM graftid.db.orders_del WHERE o_orderkey BETWEEN 1 AND 700")
    val morFiles =
      IcebergLite.snapshotDeleteFiles(spark, s"$wh/db/orders_del", -1L).size
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graftid.db.orders_del GROUP BY o_orderpriority""".stripMargin)
      .withColumn("mor_delete_files", lit(morFiles.toLong > 0L))
      .orderBy("prio")
  }

  /** X276: a deletion-vector-carrying Delta snapshot read through
    * `spark.sql` WITHOUT compacting — the catalog serves it via
    * [[DeltaLite.read]]'s DV anti-join plan through the V1 bridge.
    * The WHERE below pushes through the bridge into the underlying
    * parquet scans (Catalyst pushes the re-applied predicate below the
    * anti-join). The oracle reproduces the post-delete state. */
  private def deltaSqlReadDv(spark: SparkSession, dir: String): DataFrame = {
    val wh = Sinks.tempDir("cat_wh_ddv")
    spark.conf.set("spark.sql.catalog.graftdv",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftdv.warehouse", wh)
    val table = s"$wh/db/orders_dv"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    DeltaLite.write(spark, o.repartition(4), table, collectStats = true) // v0
    DeltaLite.deleteWhereDV(spark, table, "o_orderkey", 1L, 800L) // v1+v2: DVs
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  count(CASE WHEN o_orderkey <= 2000 THEN 1 END) AS n_low
        |FROM graftdv.db.orders_dv GROUP BY o_orderpriority
        |ORDER BY prio""".stripMargin)
  }

  /** X276, Iceberg side: live position deletes served through SQL
    * uncompacted, sequence gating intact. */
  private def icebergSqlReadMor(spark: SparkSession, dir: String): DataFrame = {
    val wh = Sinks.tempDir("cat_wh_imor")
    spark.conf.set("spark.sql.catalog.graftim",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftim.warehouse", wh)
    val table = s"$wh/db/orders_mor"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    IcebergLite.write(spark, o.repartition(4), table) // snap 1
    IcebergLite.deleteWhere(spark, table, "o_orderkey", 1L, 800L) // snap 2
    spark.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  count(CASE WHEN o_orderkey <= 2000 THEN 1 END) AS n_low
        |FROM graftim.db.orders_mor GROUP BY o_orderpriority
        |ORDER BY prio""".stripMargin)
  }

  /** X36z: CDF on a PARTITIONED table — the 100 TB shape (a table big
    * enough to need a change feed is partitioned): partitioned appends
    * feed derived inserts, [[DeltaLite.deletePartition]] drops a whole
    * partition as pure log entries with partition-stamped change data,
    * and the consumer reads the feed PRUNED to its partition — the
    * other partitions' change files are never opened
    * (DeltaLiteSpec proves that by destroying them). The oracle
    * reproduces both feed slices from the source relation. */
  private def deltaCdfPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_cdf_part_q")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    DeltaLite.writePartitioned(spark, o.where(col("o_orderkey") % 2 === 0),
      table, "o_orderpriority") // v0
    DeltaLite.enableCdf(spark, table) // v1
    DeltaLite.writePartitioned(spark, o.where(col("o_orderkey") % 2 === 1),
      table, "o_orderpriority") // v2: derived inserts
    DeltaLite.deletePartition(spark, table, "o_orderpriority", "1-URGENT") // v3
    DeltaLite.readCdf(spark, table, 1L, 3L,
        partitionFilter = Map("o_orderpriority" -> "1-URGENT"))
      .groupBy(col("_change_type"), col("_commit_version").as("ver"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("_change_type", "ver")
  }

  /** X261p': merge-on-read DML on a PARTITIONED (truncate-spec) table —
    * the 100 TB shape: position-delete files land PER PARTITION with the
    * transform value on every DELETE-manifest entry, the MOR update's
    * new data files carry their partition too, and partition pruning
    * stays exact afterwards (IcebergLiteSpec pins the manifest shapes;
    * this key pins the ANSWERS differentially: a delete + an update
    * stacked on partitioned state, read back merged). */
  private def icebergUpdatePartitioned(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("ice_upd_part_q")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    IcebergLite.write(spark, o, table,
      partitionField = Some(IcebergLite.PartField.truncate("o_orderpriority", 1))) // snapshot 1
    IcebergLite.deleteWhere(spark, table, "o_orderkey", 1L, 500L) // snap 2
    IcebergLite.updateWhere(spark, table, "o_orderkey", 501L, 1500L,
      Map("o_totalprice" -> (col("o_totalprice") + lit(100.0)))) // snap 3
    val snap1Rows = IcebergLite.read(spark, table, snapshotId = 1L).count()
    IcebergLite.read(spark, table)
      .groupBy(col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("rows_snap1", lit(snap1Rows))
      .orderBy("prio")
  }

  /** X36ac: Delta SHALLOW CLONE — zero-copy table copy: one metadata
    * commit whose adds reference the source's live files by ABSOLUTE
    * path (the protocol's other `add.path` form); at 100 TB a dev/test
    * copy costs milliseconds and zero data bytes. The clone then lives
    * its own life: appends land in ITS data dir, copy-on-write DML
    * rewrites into ITS dir, and the SOURCE never changes — the key pins
    * both directions (clone evolves, source count/files untouched) plus
    * the zero-copy fact itself. */
  private def deltaClone(spark: SparkSession, dir: String): DataFrame = {
    val src = Sinks.tempDir("delta_clone_src_q")
    val dst = Sinks.tempDir("delta_clone_dst_q")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    DeltaLite.write(spark, o.where(col("o_orderkey") % 2 === 0), src,
      collectStats = true)
    DeltaLite.shallowClone(spark, src, dst)
    val fs = new org.apache.hadoop.fs.Path(dst).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val zeroCopy = !fs.exists(new org.apache.hadoop.fs.Path(dst, "data"))
    DeltaLite.write(spark, o.where(col("o_orderkey") % 2 === 1), dst)
    DeltaLite.deleteWhere(spark, dst, "o_orderkey", 1L, 1000L)
    val srcRows = DeltaLite.read(spark, src).count()
    DeltaLite.read(spark, dst)
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("src_rows", lit(srcRows))
      .withColumn("zero_copy", lit(zeroCopy))
  }

  /** X261y: Iceberg ROLLBACK (`rollback_to_snapshot`) — the bad-ingest
    * remedy at lake scale: one small metadata-only commit moves the
    * head back, zero data I/O; history is preserved (the orphaned
    * snapshot still time-travels and its file set is untouched — both
    * pinned by the key). */
  private def icebergRollback(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("ice_rollback_q")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    IcebergLite.write(spark, o.where(col("o_orderkey") % 2 === 0), table) // 1
    IcebergLite.write(spark, o.where(col("o_orderkey") % 2 === 1), table) // 2
    val before = IcebergLite.snapshotFiles(spark, table, -1L).toSet
    IcebergLite.rollbackTo(spark, table, 1L)
    val orphanRows = IcebergLite.read(spark, table, snapshotId = 2L).count()
    val untouched = IcebergLite.snapshotFiles(spark, table, 2L).toSet == before
    IcebergLite.read(spark, table)
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("rows_at_orphan", lit(orphanRows))
      .withColumn("files_untouched", lit(untouched))
  }

  /** X36ad: Delta DOMAIN METADATA (PROTOCOL.md §Domain Metadata) —
    * system-owned state that rides the LOG: versioned, time-traveling,
    * checkpoint-surviving, invisible to schema and properties (the
    * substrate features like clustering keep their column declarations
    * in). The key runs newest-wins overwrite, a coexisting second
    * domain, tombstone removal, then a checkpoint + expireLog so the
    * surviving map can only have come THROUGH the checkpoint's
    * domainMetadata rows; the table's own rows ride along to prove the
    * data path is untouched. */
  private def deltaDomainMetadata(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = Sinks.tempDir("delta_domain_q")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    DeltaLite.write(spark, o, table)
    DeltaLite.setDomainMetadata(spark, table,
      "graft.clustering", """{"cols":["o_orderkey"]}""")
    DeltaLite.setDomainMetadata(spark, table, "graft.audit", "on")
    DeltaLite.setDomainMetadata(spark, table,
      "graft.clustering", """{"cols":["o_totalprice"]}""") // newest wins
    DeltaLite.removeDomainMetadata(spark, table, "graft.audit")
    DeltaLite.checkpoint(spark, table)
    DeltaLite.expireLog(spark, table)
    val rows = DeltaLite.read(spark, table).count()
    DeltaLite.domainMetadata(spark, table).toSeq
      .toDF("domain", "configuration")
      .withColumn("table_rows", lit(rows))
      .orderBy("domain")
  }

  /** X309: a bare `OPTIMIZE t` CONSUMES the table's declared clustering
    * domain (closing the r14/r15 "declared but inert" gap): the
    * `graft.clustering` domain (X36ad) names the columns once, and
    * every OPTIMIZE thereafter re-clusters on them without the operator
    * re-stating a ZORDER clause — Delta's clustered-table contract (the
    * layout declaration lives WITH the table, so a 2 a.m. maintenance
    * job can't silently bin-pack a Z-ordered 100 TB table flat). Pins:
    * box-predicate pruning works after the clause-less OPTIMIZE (X36s
    * machinery), the change feed stays silent (dataChange=false), and
    * the domain survives checkpoint + expireLog. */
  private def deltaOptimizeClustered(spark: SparkSession,
      dir: String): DataFrame = {
    val catName = "graftoc"
    val wh = spark.conf
      .getOption(s"spark.sql.catalog.$catName.warehouse").getOrElse {
        val w = Sinks.tempDir("cat_wh_oc")
        spark.conf.set(s"spark.sql.catalog.$catName",
          classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$catName.warehouse", w)
        w
      }
    spark.sql(s"DROP TABLE IF EXISTS $catName.db.orders_oc")
    spark.sql(
      s"""CREATE TABLE $catName.db.orders_oc (
         |  o_orderkey BIGINT, cx BIGINT, dy BIGINT, o_totalprice DOUBLE)
         |USING delta
         |TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')"""
        .stripMargin)
    val table = s"$wh/db/orders_oc"
    Tables.orders(spark, dir).createOrReplaceTempView("oc_src")
    spark.sql(s"""INSERT INTO $catName.db.orders_oc
      |SELECT o_orderkey, o_custkey % 65536,
      |  CAST(datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')
      |    AS BIGINT) % 65536,
      |  o_totalprice
      |FROM oc_src""".stripMargin)
    // declare the clustering ONCE, in the domain the table carries
    DeltaLite.setDomainMetadata(spark, table,
      "graft.clustering", """{"cols":["cx","dy"]}""")
    val cdfBefore = spark.sql(
      s"SELECT count(*) FROM $catName.db.orders_oc.changes").first().getLong(0)
    // NO ZORDER clause — the domain supplies the columns
    val opt = spark.sql(s"OPTIMIZE $catName.db.orders_oc").collect().head
    val nAfter = opt.getLong(2)
    val cdfSilent = spark.sql(
      s"SELECT count(*) FROM $catName.db.orders_oc.changes")
      .first().getLong(0) == cdfBefore
    // the Z-layout the domain demanded: box predicates prune on BOTH
    // dimensions off the per-file stats
    val (fx, _, _) = DeltaLite.planSkipping(spark, table, "cx", 10L, 60L)
    val (fy, _, _) = DeltaLite.planSkipping(spark, table, "dy", 100L, 400L)
    val sel = fx.toSet.intersect(fy.toSet).toSeq.sorted
    val files = if (sel.nonEmpty) sel else (fx ++ fy).distinct
    // the domain is system state that rides the LOG: checkpoint +
    // expireLog must carry it (X36ad's survival contract)
    DeltaLite.checkpoint(spark, table)
    DeltaLite.expireLog(spark, table)
    val domainSurvives = DeltaLite.clusteringColumns(spark, table)
      .contains(Seq("cx", "dy"))
    ParquetDirect.read(spark, files.map(f => s"$table/$f"): _*)
      .where(col("cx").between(10, 60) && col("dy").between(100, 400))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("pruned", lit(if (sel.size < nAfter) 1L else 0L))
      .withColumn("cdf_silent", lit(cdfSilent))
      .withColumn("domain_survives", lit(domainSurvives))
  }

  /** X36ab: Delta IN-COMMIT TIMESTAMPS (PROTOCOL.md §In-Commit
    * Timestamps) — the table's time axis moves INTO the commit: once
    * enabled, the commit arbiter stamps every commit's leading
    * commitInfo with a strictly-monotone `inCommitTimestamp`, and
    * `TIMESTAMP AS OF` resolves through the stamps instead of
    * file-modification times (which clock skew, log copy/restore and
    * cleanup reorder — the failure mode the feature ends). The key
    * pins: the enablement stamp (injected, so deterministic), time
    * travel to the enablement instant (pre-enable content) and past the
    * last stamp (current content), ledger monotonicity, and the
    * refusal below the first retained stamp. */
  private def deltaIct(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_ict_q")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    DeltaLite.write(spark, o.where(col("o_orderkey") % 2 === 0), table) // v0
    DeltaLite.enableInCommitTimestamps(spark, table,
      now = 1700000000000L)                                             // v1
    DeltaLite.write(spark, o.where(col("o_orderkey") % 2 === 1), table) // v2
    val ledger = DeltaLite.ictLedger(spark, table)
    val monotone = ledger.map(_._2) == ledger.map(_._2).sorted &&
      ledger.map(_._2).distinct.length == ledger.length
    val rowsAtEnable =
      DeltaLite.readTimestampAsOf(spark, table, ledger.head._2).count()
    val refusedBelow =
      try { DeltaLite.readTimestampAsOf(spark, table, ledger.head._2 - 1)
        false }
      catch { case _: IllegalArgumentException => true }
    DeltaLite.readTimestampAsOf(spark, table, ledger.last._2 + 1000L)
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("rows_at_enable", lit(rowsAtEnable))
      .withColumn("first_stamp", lit(ledger.head._2))
      .withColumn("monotone", lit(monotone))
      .withColumn("refused_below", lit(refusedBelow))
  }

  /** X261x: Iceberg CHANGELOG scan — the full-strength change feed the
    * append-only incremental reads (X261h/X261l) refuse down to,
    * Iceberg's own `create_changelog_view`: every snapshot kind is
    * representable because changes derive from each snapshot's STATE
    * DIFF against its parent (added/removed files + the rows new MOR
    * delete files mask), so a consumer replays appends, merge-on-read
    * DELETEs and UPDATEs (delete+insert pairs), and COW overwrites from
    * one feed; `replace` (compaction) snapshots are invisible, and the
    * post-compaction feed still answers — the state diff reads each
    * snapshot's own retained manifests. The key runs the lifecycle and
    * aggregates the feed per (change type, snapshot); the oracle
    * reproduces every slice from the source relation. */
  private def icebergChangelog(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("ice_changelog_q")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    IcebergLite.write(spark, o.where(col("o_orderkey") % 2 === 0), table) // 1
    IcebergLite.write(spark, o.where(col("o_orderkey") % 2 === 1), table) // 2
    IcebergLite.deleteWhere(spark, table, "o_orderkey", 1L, 500L)         // 3
    IcebergLite.updateWhere(spark, table, "o_orderkey", 501L, 1500L,
      Map("o_totalprice" -> (col("o_totalprice") + lit(100.0))))          // 4
    IcebergLite.rewriteDataFiles(spark, table)                            // 5
    IcebergLite.readChangelog(spark, table, 0L, 5L)
      .groupBy(col("_change_type"), col("_snapshot_id").as("snap"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("snap", "_change_type")
  }

  /** X268b: Iceberg METADATA TABLES through SQL — `cat.db.t.snapshots`
    * / `.files` / `.refs` (namespace [db, t] + a metadata-kind name,
    * Iceberg's own idiom): the operational-introspection surface a real
    * user reaches first, served as control-plane-sized local relations
    * (rows ∝ snapshots/manifests, never data) that plain SQL composes
    * over. Lifecycle: two appends + a compaction, then every number in
    * the answer is read through SQL over the metadata relations. */
  private def icebergSqlMeta(spark: SparkSession, dir: String): DataFrame = {
    val wh = Sinks.tempDir("cat_wh_meta")
    spark.conf.set("spark.sql.catalog.gmeta",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmeta.warehouse", wh)
    val table = s"$wh/db/m"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    IcebergLite.write(spark, o.where(col("o_orderkey") % 2 === 0), table) // 1
    IcebergLite.write(spark, o.where(col("o_orderkey") % 2 === 1), table) // 2
    IcebergLite.rewriteDataFiles(spark, table)                            // 3
    spark.sql(
      """SELECT
        |  (SELECT count(*) FROM gmeta.db.m.snapshots) AS n_snapshots,
        |  (SELECT count(*) FROM gmeta.db.m.snapshots
        |     WHERE operation = 'append') AS n_appends,
        |  (SELECT snapshot_id FROM gmeta.db.m.snapshots
        |     WHERE is_current) AS current_snapshot,
        |  (SELECT sum(record_count) FROM gmeta.db.m.files) AS n_records,
        |  (SELECT count(*) FROM gmeta.db.m.refs) AS n_refs""".stripMargin)
  }

  /** X312: the TIME-TRAVEL-WIDE metadata tables through SQL —
    * `cat.db.t.entries` (one row per manifest entry of the CURRENT
    * snapshot, statuses included — `files` hides the deleted ones),
    * `.all_manifests` (every retained snapshot's manifest list,
    * `reference_snapshot_id` attributing the walk) and `.all_files`
    * (every file live in ANY retained snapshot, deduped — the
    * referenced-set a GC/audit sweep must respect). Lifecycle: two
    * half-appends + a compaction; the entries recount equals the
    * source census, the all-files recount equals both halves PLUS the
    * compacted copy (history keeps pre-compaction files live), and the
    * all_manifests walk covers all three snapshots, strictly wider
    * than the current `manifests` view. Control-plane-sized: rows ∝
    * snapshots × manifests, no data file opens. */
  private def icebergMetaAll(spark: SparkSession, dir: String): DataFrame = {
    val wh = Sinks.tempDir("cat_wh_ma")
    spark.conf.set("spark.sql.catalog.gma",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gma.warehouse", wh)
    val table = s"$wh/db/ma"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    IcebergLite.write(spark, o.where(col("o_orderkey") % 2 === 0), table)
    IcebergLite.write(spark, o.where(col("o_orderkey") % 2 === 1), table)
    IcebergLite.rewriteDataFiles(spark, table)
    val walked = spark.sql(
      "SELECT count(*) AS r, count(DISTINCT reference_snapshot_id) AS s " +
        "FROM gma.db.ma.all_manifests").collect()(0)
    val curMans = spark.table("gma.db.ma.manifests").count()
    val walkWider = walked.getLong(1) == 3L && walked.getLong(0) > curMans
    spark.sql(
      """SELECT
        |  (SELECT sum(record_count) FROM gma.db.ma.entries
        |     WHERE status <> 2 AND content = 0) AS live_records,
        |  (SELECT sum(record_count) FROM gma.db.ma.all_files
        |     WHERE content = 0) AS alltime_records""".stripMargin)
      .withColumn("walk_wider", lit(walkWider))
  }

  /** X268c: COLUMN-MAPPED table through SQL — the refusal X268 stated,
    * converted into a real read by FIELD-ID resolution: the catalog
    * serves the scan under logical names each stamped with its Delta
    * column id as `parquet.field.id`, and Spark's reader binds by the
    * footer ids this implementation writes in both mapping modes — so
    * metadata-only renames are immediately SQL-visible and widening
    * evolution reads pre-widening files as NULL, with zero aliasing
    * layers in the plan. Scalars are materialized inside the key while
    * the session flag is set (the flag is restored after — a catalog
    * read's requirement, not a global default). */
  private def deltaCmSql(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wh = Sinks.tempDir("cat_wh_cm")
    spark.conf.set("spark.sql.catalog.gcm",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcm.warehouse", wh)
    val table = s"$wh/db/cm"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    DeltaLite.writeColumnMapped(spark,
      o.where(col("o_orderkey") % 2 === 0), table, mode = "id")     // v0
    DeltaLite.renameColumn(spark, table, "o_totalprice", "price")   // v1
    DeltaLite.writeColumnMapped(spark,
      Tables.orders(spark, dir).where(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice").as("price"),
          col("o_orderpriority").as("prio")), table)                // v2
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val row = try {
      val cur = spark.sql(
        """SELECT count(*) AS n, round(sum(price), 2) AS total,
          |  count(prio) AS n_prio FROM gcm.db.cm""".stripMargin).head()
      val v0 = spark.sql(
        "SELECT count(*) FROM gcm.db.cm VERSION AS OF 0").head().getLong(0)
      (cur.getLong(0), cur.getDouble(1), cur.getLong(2), v0)
    } finally spark.conf.unset("spark.sql.parquet.fieldId.read.enabled")
    Seq(row).toDF("n", "total", "n_prio", "rows_v0")
  }

  /** X261x': changelog NET CHANGES — the raw feed folded to its
    * endpoint-to-endpoint effect (Iceberg's `net_changes`): a COW
    * overwrite's carried-row delete+insert pairs cancel exactly, and
    * rows inserted-then-deleted inside the range vanish, so a
    * downstream consumer applies only what actually changed. The
    * lifecycle here makes both cancellations load-bearing: evens
    * written, a full COW overwrite (carried evens must cancel), then a
    * MOR delete whose in-range odds (inserted by the overwrite) must
    * vanish while in-range evens (pre-range inserts) surface as
    * deletes. */
  private def icebergChangelogNet(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("ice_cl_net_q")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    IcebergLite.write(spark, o.where(col("o_orderkey") % 2 === 0), table) // 1
    IcebergLite.write(spark, o, table, overwrite = true)                  // 2
    IcebergLite.deleteWhere(spark, table, "o_orderkey", 1L, 500L)         // 3
    IcebergLite.readChangelogNet(spark, table, 1L, 3L)
      .groupBy(col("_change_type"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"),
        sum("_net").as("net"))
      .orderBy("_change_type")
  }

  /** X269: Iceberg TABLE STATISTICS via PUFFIN (spec §Table Statistics
    * + puffin-spec) — NDV sketches outside the data path: one
    * distributed pass folds each partition into per-column compact
    * Theta sketches (`apache-datasketches-theta-v1`, the spec's blob
    * type), the driver unions KB-sized blobs, and the Puffin file
    * registers in table metadata by a metadata-only commit. At 100 TB
    * this is what replaces a full scan per distinct-count at plan time.
    * The key sketches two low-cardinality orders columns (Theta stays
    * in exact mode, so the estimates ARE the distinct counts and the
    * DuckDB oracle reproduces them exactly at every SF), re-reads them
    * THROUGH the file (footer magics + blob parse, not a metadata
    * copy), and proves staleness bookkeeping after a further append. */
  private def icebergPuffin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = Sinks.tempDir("ice_puffin_q")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
    IcebergLite.write(spark, o, table)
    IcebergLite.writeStatistics(spark, table,
      Seq("o_orderstatus", "o_orderpriority"))
    val stats = IcebergLite.readStatistics(spark, table)
    // a later append makes them stale; the flag must flip
    IcebergLite.write(spark,
      Seq((-1L, "Z", "9-NONE")).toDF(
        "o_orderkey", "o_orderstatus", "o_orderpriority"), table)
    val staleAfter = IcebergLite.readStatistics(spark, table).forall(_._4)
    stats.toDF("col", "ndv_sketch", "ndv_prop", "stale")
      .withColumn("stale_after_append", lit(staleAfter))
      .orderBy("col")
  }

  /** X36aa: V2 CHECKPOINT (PROTOCOL.md §V2 Checkpoints) — the current
    * spec frontier of Delta checkpointing: the control plane lives in
    * one UUID-named top-level file while the file actions split across
    * SIDECAR parquet files under `_delta_log/_sidecars/`, so a
    * million-file table checkpoints without rewriting its whole add set
    * in one artifact. The key runs the full lifecycle against real
    * state worth checkpointing — partition-shaped appends, a DV delete
    * (the descriptor must survive THROUGH the sidecar), checkpointV2,
    * then expireLog so the read can only answer from
    * checkpoint+sidecars. DeltaLiteSpec pins the file shapes and the
    * refuse-on-missing-sidecar rule; this key pins the ANSWERS. */
  private def deltaCheckpointV2(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_cp_v2_q")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    DeltaLite.write(spark, o.where(col("o_orderkey") % 2 === 0), table,
      collectStats = true) // v0
    DeltaLite.write(spark, o.where(col("o_orderkey") % 2 === 1), table,
      collectStats = true) // v1
    DeltaLite.deleteWhereDV(spark, table, "o_orderkey", 1L, 1000L) // v2
    val cpV = DeltaLite.checkpointV2(spark, table, sidecars = 3) // v3 upgrade
    DeltaLite.expireLog(spark, table)
    DeltaLite.read(spark, table)
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("cp_version", lit(cpV))
  }

  /** X36u'': column-mapping ID MODE + EVOLUTION on mapped tables — the
    * routine lifecycle collision the subset previously refused: create
    * in id mode (parquet footers carry the column ids readers bind to),
    * RENAME metadata-only (mode preserved), then a WIDENING append whose
    * new column takes the next id; the current read surfaces the
    * renamed + widened schema with pre-widening files as NULL, and time
    * travel below the rename still answers under the ORIGINAL name. */
  private def deltaCmEvolution(spark: SparkSession, dir: String): DataFrame = {
    val table = Sinks.tempDir("delta_cm_evo_q")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    DeltaLite.writeColumnMapped(spark,
      o.where(col("o_orderkey") % 2 === 0), table, mode = "id") // v0
    DeltaLite.renameColumn(spark, table, "o_totalprice", "price") // v1
    DeltaLite.writeColumnMapped(spark,
      Tables.orders(spark, dir).where(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice").as("price"),
          col("o_orderpriority").as("prio")), table) // v2: widen
    val v0 = DeltaLite.read(spark, table, versionAsOf = 0L)
    DeltaLite.read(spark, table)
      .agg(count(lit(1)).as("n"), round(sum("price"), 2).as("total"),
        count(col("prio")).as("n_prio"))
      .withColumn("rows_v0", lit(v0.count()))
      .withColumn("v0_has_old_name",
        lit(v0.columns.contains("o_totalprice")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_delta_checkpoint_v2" -> ((s, dir) => deltaCheckpointV2(s, dir)),
    "x_iceberg_puffin" -> ((s, dir) => icebergPuffin(s, dir)),
    "x_iceberg_changelog" -> ((s, dir) => icebergChangelog(s, dir)),
    "x_iceberg_changelog_net" -> ((s, dir) => icebergChangelogNet(s, dir)),
    "x_iceberg_sql_meta" -> ((s, dir) => icebergSqlMeta(s, dir)),
    "x_delta_cm_sql" -> ((s, dir) => deltaCmSql(s, dir)),
    "x_delta_ict" -> ((s, dir) => deltaIct(s, dir)),
    "x_delta_clone" -> ((s, dir) => deltaClone(s, dir)),
    "x_delta_domain_metadata" -> ((s, dir) => deltaDomainMetadata(s, dir)),
    "x_iceberg_rollback" -> ((s, dir) => icebergRollback(s, dir)),
    "x_delta_cm_evolution" -> ((s, dir) => deltaCmEvolution(s, dir)),
    "x_delta_sql_read" -> ((s, dir) => deltaSqlRead(s, dir)),
    "x_iceberg_sql_read" -> ((s, dir) => icebergSqlRead(s, dir)),
    "x_delta_sql_insert" -> ((s, dir) => deltaSqlInsert(s, dir)),
    "x_iceberg_sql_insert" -> ((s, dir) => icebergSqlInsert(s, dir)),
    "x_delta_sql_read_dv" -> ((s, dir) => deltaSqlReadDv(s, dir)),
    "x_iceberg_sql_read_mor" -> ((s, dir) => icebergSqlReadMor(s, dir)),
    "x_iceberg_partition_time" -> ((s, dir) => icebergPartitionTime(s, dir)),
    "x_iceberg_bucket" -> ((s, dir) => icebergBucket(s, dir)),
    "x_spj_join" -> ((s, dir) => icebergSpjJoin(s, dir)),
    "x_iceberg_skipping_str" -> ((s, dir) => icebergSkippingStr(s, dir)),
    "x_puffin_join" -> ((s, dir) => puffinJoin(s, dir)),
    "x_iceberg_sql_write_statistics" ->
      ((s, dir) => icebergSqlWriteStatistics(s, dir)),
    "x_delta_sql_delete" -> ((s, dir) => deltaSqlDelete(s, dir)),
    "x_delta_sql_delete_dv" -> ((s, dir) => deltaSqlDeleteDv(s, dir)),
    "x_delta_cm_sql_update" -> ((s, dir) => deltaCmSqlUpdate(s, dir)),
    "x_delta_sql_optimize" -> ((s, dir) => deltaSqlOptimize(s, dir)),
    "x_delta_optimize_clustered" ->
      ((s, dir) => deltaOptimizeClustered(s, dir)),
    "x_iceberg_sql_maintenance" -> ((s, dir) => icebergSqlMaintenance(s, dir)),
    "x_delta_stream_to_table_partitioned" ->
      ((s, dir) => streamToTablePartitioned(s, dir)),
    "x_iceberg_stream_to_table_partitioned" ->
      ((s, dir) => icebergStreamToTablePartitioned(s, dir)),
    "x_delta_cdf_stream" -> ((s, dir) => deltaCdfStream(s, dir)),
    "x_iceberg_cdf_stream" -> ((s, dir) => icebergCdfStream(s, dir)),
    "x_iceberg_cdf_stream_dml" ->
      ((s, dir) => icebergCdfStreamDml(s, dir)),
    "x_iceberg_dv_puffin" -> ((s, dir) => icebergDvPuffin(s, dir)),
    "x_sql_call_rollback" -> ((s, dir) => sqlCallRollback(s, dir)),
    "x_iceberg_meta_all" -> ((s, dir) => icebergMetaAll(s, dir)),
    "x_sql_merge_evolution" -> ((s, dir) => sqlMergeEvolution(s, dir)),
    "x_sql_truncate" -> ((s, dir) => sqlTruncate(s, dir)),
    "x_iceberg_rewrite_manifests" ->
      ((s, dir) => icebergRewriteManifests(s, dir)),
    "x_sql_describe_detail" -> ((s, dir) => sqlDescribeDetail(s, dir)),
    "x_iceberg_sql_write_branch" ->
      ((s, dir) => icebergSqlWriteBranch(s, dir)),
    "x_iceberg_sql_delete" -> ((s, dir) => icebergSqlDelete(s, dir)),
    "x_delta_sql_overwrite_partition" ->
      ((s, dir) => deltaSqlOverwritePartition(s, dir)),
    "x_iceberg_timestamp_as_of" -> ((s, dir) => icebergTimestampAsOf(s, dir)),
    "x_delta_sql_update" -> ((s, dir) => deltaSqlUpdate(s, dir)),
    "x_delta_sql_merge" -> ((s, dir) => deltaSqlMerge(s, dir)),
    "x_iceberg_sql_update" -> ((s, dir) => icebergSqlUpdate(s, dir)),
    "x_iceberg_sql_merge" -> ((s, dir) => icebergSqlMerge(s, dir)),
    "x_delta_stream_to_table" -> ((s, dir) => streamToTable(s, dir, "delta")),
    "x_iceberg_stream_to_table" ->
      ((s, dir) => streamToTable(s, dir, "iceberg")),
    "x_delta_sql_alter" -> ((s, dir) => sqlAlter(s, dir, "delta")),
    "x_iceberg_sql_alter" -> ((s, dir) => sqlAlter(s, dir, "iceberg")),
    "x_iceberg_sql_alter_rename" ->
      ((s, dir) => icebergSqlAlterRename(s, dir)),
    "x_delta_sql_update_partitioned" ->
      ((s, dir) => deltaSqlUpdatePartitioned(s, dir)),
    "x_iceberg_partition_identity" ->
      ((s, dir) => icebergPartitionIdentity(s, dir)),
    "x_iceberg_sql_update_partitioned" ->
      ((s, dir) => icebergSqlUpdatePartitioned(s, dir)),
    "x_iceberg_sql_update_hidden" ->
      ((s, dir) => icebergSqlUpdateHidden(s, dir)),
    "x_iceberg_sql_update_mor" ->
      ((s, dir) => icebergSqlUpdateMor(s, dir)),
    "x_iceberg_sql_read_ref" ->
      ((s, dir) => icebergSqlReadRef(s, dir)),
    "x_delta_stream_read" -> ((s, dir) => streamRead(s, dir, "delta")),
    "x_iceberg_stream_read" -> ((s, dir) => streamRead(s, dir, "iceberg")),
    "x_delta_cdf_partitioned" -> ((s, dir) => deltaCdfPartitioned(s, dir)),
    "x_iceberg_update_partitioned" ->
      ((s, dir) => icebergUpdatePartitioned(s, dir)),
    "x_iceberg_schema_evolution" -> ((s, dir) => icebergSchemaEvolution(s, dir)),
    "x_delta_schema_evolution" -> ((s, dir) => deltaSchemaEvolution(s, dir)),
    "x_iceberg_incremental" -> ((s, dir) => icebergIncremental(s, dir)),
    "x_iceberg_incr_replace" -> ((s, dir) => icebergIncrReplace(s, dir)),
    "x_iceberg_eq_delete" -> ((s, dir) => icebergEqDelete(s, dir)),
    "x_iceberg_eq_delete_multi" ->
      ((s, dir) => icebergEqDeleteMulti(s, dir)),
    "x_iceberg_sql_delete_in" ->
      ((s, dir) => icebergSqlDeleteIn(s, dir)),
    "x_delta_sql_delete_in_dv" ->
      ((s, dir) => deltaSqlDeleteInDv(s, dir)),
    "x_iceberg_refs" -> ((s, dir) => icebergRefs(s, dir)),
    "x_delta_column_mapping" -> ((s, dir) => deltaColumnMapping(s, dir)),
    "x_delta_constraints" -> ((s, dir) => deltaConstraints(s, dir)),
    "x_delta_cdf" -> ((s, dir) => deltaCdf(s, dir)),
    "x_iceberg_partition" -> ((s, dir) => icebergPartitioned(s, dir)),
    "x_iceberg_expire" -> ((s, dir) => icebergExpire(s, dir)),
    "x_iceberg_skipping" -> ((s, dir) => icebergSkipping(s, dir)),
    "x_iceberg_roundtrip" -> ((s, dir) => icebergRoundTrip(s, dir)),
    "x_iceberg_time_travel" -> ((s, dir) => icebergTimeTravel(s, dir)),
    "x_delta_roundtrip" -> ((s, dir) => deltaRoundTrip(s, dir)),
    "x_delta_checkpoint" -> ((s, dir) => deltaCheckpoint(s, dir)),
    "x_delta_skipping" -> ((s, dir) => deltaSkipping(s, dir)),
    "x_delta_delete" -> ((s, dir) => deltaDelete(s, dir)),
    "x_delta_dv" -> ((s, dir) => deltaDv(s, dir)),
    "x_delta_restore" -> ((s, dir) => deltaRestore(s, dir)),
    "x_delta_history" -> ((s, dir) => deltaHistory(s, dir)),
    "x_delta_optimize" -> ((s, dir) => deltaOptimize(s, dir)),
    "x_delta_partitioned" -> ((s, dir) => deltaPartitioned(s, dir)),
    "x_iceberg_history" -> ((s, dir) => icebergHistory(s, dir)),
    "x_iceberg_meta_tables" -> ((s, dir) => icebergMetaTables(s, dir)),
    "x_iceberg_optimize" -> ((s, dir) => icebergOptimize(s, dir)),
    "x_iceberg_dv" -> ((s, dir) => icebergDv(s, dir)),
    "x_iceberg_update" -> ((s, dir) => icebergUpdate(s, dir)),
    "x_iceberg_merge" -> ((s, dir) => icebergMerge(s, dir)),
    "x_delta_generated" -> ((s, dir) => deltaGenerated(s, dir)),
    "x_iceberg_spec_evolution" -> ((s, dir) => icebergSpecEvolution(s, dir)),
    "x_iceberg_wap" -> ((s, dir) => icebergWap(s, dir)),
    "x_iceberg_sort_order" -> ((s, dir) => icebergSortOrder(s, dir)),
    "x_delta_append_only" -> ((s, dir) => deltaAppendOnly(s, dir)),
    "x_iceberg_partitions_table" -> ((s, dir) => icebergPartitionsTable(s, dir)),
    "x_delta_zorder" -> ((s, dir) => deltaZorder(s, dir)),
    "x_delta_optimize_partitioned" ->
      ((s, dir) => deltaOptimizePartitioned(s, dir)),
    "x_delta_vacuum" -> ((s, dir) => deltaVacuum(s, dir)),
    "x_delta_time_travel" -> ((s, dir) => deltaTimeTravel(s, dir)),
    "x_delta_merge" -> ((s, dir) => deltaMerge(s, dir)),
    "x_delta_merge_cdf" -> ((s, dir) => deltaMergeCdf(s, dir)),
    "x_delta_incremental" -> ((s, dir) => deltaIncremental(s, dir)),
    "x_dict_encode" -> ((s, dir) => dictEncode(s, dir)),
    "x_dsv2_scan" -> ((s, dir) => dsv2Scan(s)),
    "x_dsv2_agg" -> ((s, dir) => dsv2Agg(s)),
    "x_partition_evolution" -> ((s, dir) => partitionEvolution(s, dir)),
    "x_stats_prune" -> ((s, dir) => statsPrune(s, dir)),
    "x_zorder" -> ((s, dir) => zorder(s, dir)),
    "x_bucketed_join" -> ((s, dir) => bucketedJoin(s, dir)),
    "x_dpp" -> ((s, dir) => dppJoin(s, dir)),
    "x_source_binary" -> ((s, dir) => binarySource(s, dir)),
    "x_source_corrupt" -> ((s, dir) => corruptRead(s)),
    "x_source_csv" -> ((s, dir) => roundTrip(s, dir, "csv")),
    "x_source_json" -> ((s, dir) => roundTrip(s, dir, "json")),
    "x_source_orc" -> ((s, dir) => roundTrip(s, dir, "orc")),
    "x_schema_evolution" -> ((s, dir) => schemaEvolution(s, dir)),
    "x_snapshot_read" -> ((s, dir) => snapshotRead(s, dir, asOf = 2)),
    "x_compaction" -> ((s, dir) => compact(s, dir)._2)
  )

  private val aggSql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(user_id) AS BIGINT) AS user_sum,
      |  round(sum(value), 2) AS value_sum
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val oracles: Map[String, String] = Map(
    // domain metadata: newest-wins clustering declaration survives the
    // checkpoint; the removed domain stays gone; data untouched
    "x_delta_domain_metadata" ->
      """SELECT 'graft.clustering' AS domain,
        |  '{"cols":["o_totalprice"]}' AS configuration,
        |  count(*) AS table_rows
        |FROM orders""".stripMargin,
    // shallow clone: dst evolved (all orders minus deleted range), src
    // untouched (evens), zero bytes copied at clone time
    "x_delta_clone" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0)
        |    AS src_rows,
        |  TRUE AS zero_copy
        |FROM orders WHERE o_orderkey NOT BETWEEN 1 AND 1000""".stripMargin,
    // rollback: head back to the evens snapshot; the orphaned snapshot
    // still answers in full and its files are untouched
    "x_iceberg_rollback" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  (SELECT count(*) FROM orders) AS rows_at_orphan,
        |  TRUE AS files_untouched
        |FROM orders WHERE o_orderkey % 2 = 0""".stripMargin,
    // in-commit timestamps: time travel past the last stamp sees all
    // orders; at the enablement stamp only the evens (pre-enable v0)
    "x_delta_ict" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0)
        |    AS rows_at_enable,
        |  1700000000000::BIGINT AS first_stamp,
        |  TRUE AS monotone, TRUE AS refused_below
        |FROM orders""".stripMargin,
    // changelog: inserts per parity-append, MOR delete preimages for
    // keys 1..500, update preimage/postimage pairs for keys 501..1500
    // (+100 on the postimage); the replace snapshot contributes nothing
    "x_iceberg_changelog" ->
      """SELECT * FROM (
        |  SELECT 'insert' AS _change_type, 1::BIGINT AS snap,
        |    count(*) AS n, round(sum(o_totalprice), 2) AS total
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT 'insert', 2::BIGINT, count(*), round(sum(o_totalprice), 2)
        |  FROM orders WHERE o_orderkey % 2 = 1
        |  UNION ALL
        |  SELECT 'delete', 3::BIGINT, count(*), round(sum(o_totalprice), 2)
        |  FROM orders WHERE o_orderkey BETWEEN 1 AND 500
        |  UNION ALL
        |  SELECT 'delete', 4::BIGINT, count(*), round(sum(o_totalprice), 2)
        |  FROM orders WHERE o_orderkey BETWEEN 501 AND 1500
        |  UNION ALL
        |  SELECT 'insert', 4::BIGINT, count(*),
        |    round(sum(o_totalprice + 100.0), 2)
        |  FROM orders WHERE o_orderkey BETWEEN 501 AND 1500
        |) ORDER BY snap, _change_type""".stripMargin,
    // column-mapped SQL read: renamed + widened table; prio non-null
    // exactly on the appended odds; v0 = the evens
    "x_delta_cm_sql" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 1)
        |    AS n_prio,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0)
        |    AS rows_v0
        |FROM orders""".stripMargin,
    // SQL metadata tables: 2 appends + 1 replace; compaction leaves
    // record counts intact; one ref (main)
    "x_iceberg_sql_meta" ->
      """SELECT 3::BIGINT AS n_snapshots, 2::BIGINT AS n_appends,
        |  3::BIGINT AS current_snapshot,
        |  (SELECT count(*) FROM orders) AS n_records,
        |  1::BIGINT AS n_refs""".stripMargin,
    // changelog net over (1,3]: deletes = evens in the deleted key range
    // (pre-range inserts), inserts = odds outside it (carried evens
    // cancel, in-range odds vanish)
    "x_iceberg_changelog_net" ->
      """SELECT * FROM (
        |  SELECT 'delete' AS _change_type, count(*) AS n,
        |    round(sum(o_totalprice), 2) AS total, count(*) AS net
        |  FROM orders WHERE o_orderkey % 2 = 0
        |    AND o_orderkey BETWEEN 1 AND 500
        |  UNION ALL
        |  SELECT 'insert', count(*), round(sum(o_totalprice), 2), count(*)
        |  FROM orders WHERE o_orderkey % 2 = 1
        |    AND o_orderkey NOT BETWEEN 1 AND 500
        |) ORDER BY _change_type""".stripMargin,
    // puffin NDV: theta exact-mode estimates equal the true distinct
    // counts of the two low-cardinality columns at any SF
    "x_iceberg_puffin" ->
      """SELECT col, ndv_sketch, ndv_sketch AS ndv_prop,
        |  FALSE AS stale, TRUE AS stale_after_append
        |FROM (
        |  SELECT 'o_orderstatus' AS col,
        |    count(DISTINCT o_orderstatus) AS ndv_sketch FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority',
        |    count(DISTINCT o_orderpriority) FROM orders
        |) ORDER BY col""".stripMargin,
    // V2 checkpoint: all orders minus the DV-deleted key range; the
    // checkpoint landed at v3 (v0,v1 appends + v2 delete + protocol
    // upgrade commit)
    "x_delta_checkpoint_v2" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  3::BIGINT AS cp_version
        |FROM orders WHERE o_orderkey NOT BETWEEN 1 AND 1000""".stripMargin,
    // mapped-table evolution: evens created, renamed, odds appended
    // widened with priority — prio is non-null exactly on the appended
    // rows; v0 = evens under the original column name
    "x_delta_cm_evolution" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 1)
        |    AS n_prio,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0)
        |    AS rows_v0,
        |  TRUE AS v0_has_old_name
        |FROM orders""".stripMargin,
    // partitioned MOR: the merged view = all rows minus the deleted key
    // range, +100.0 on the updated range; snapshot 1 = everything
    "x_iceberg_update_partitioned" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(CASE WHEN o_orderkey BETWEEN 501 AND 1500
        |    THEN o_totalprice + 100.0 ELSE o_totalprice END), 2) AS total,
        |  (SELECT count(*) FROM orders) AS rows_snap1
        |FROM orders WHERE o_orderkey NOT BETWEEN 1 AND 500
        |GROUP BY 1 ORDER BY prio""".stripMargin,
    // partitioned CDF pruned to 1-URGENT: v2's inserts are the odd-key
    // urgents; v3's partition drop deletes every urgent row
    "x_delta_cdf_partitioned" ->
      """SELECT * FROM (
        |  SELECT 'delete' AS _change_type, CAST(3 AS BIGINT) AS ver,
        |    count(*) AS n, round(sum(o_totalprice), 2) AS total
        |  FROM orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT 'insert', CAST(2 AS BIGINT), count(*),
        |    round(sum(o_totalprice), 2)
        |  FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 1
        |) ORDER BY _change_type, ver""".stripMargin,
    // SQL-through-catalog, Delta: current = odds+evens minus the deleted
    // range; v0 = evens only; v1 = everything
    "x_delta_sql_read" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0) AS rows_v0,
        |  (SELECT count(*) FROM orders) AS rows_v1
        |FROM orders WHERE o_orderkey NOT BETWEEN 1 AND 800
        |GROUP BY 1 ORDER BY prio""".stripMargin,
    // SQL-through-catalog, Iceberg: same lifecycle; snapshot 1 = evens;
    // the merge-on-read window now SERVES SQL reads (mor_rows counted
    // while the position deletes were live, uncompacted)
    "x_iceberg_sql_read" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0)
        |    AS rows_snap1,
        |  (SELECT count(*) FROM orders WHERE o_orderkey NOT BETWEEN 1 AND 800)
        |    AS mor_rows
        |FROM orders WHERE o_orderkey NOT BETWEEN 1 AND 800
        |GROUP BY 1 ORDER BY prio""".stripMargin,
    // SQL WRITE path, Delta: final state = keys <= 1000 (the INSERT
    // OVERWRITE); rows_appended/rows_api/rows_v2 pin the append
    // lifecycle and the SQL-vs-API agreement
    "x_delta_sql_insert" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  (SELECT count(*) FROM orders) AS rows_appended,
        |  (SELECT count(*) FROM orders WHERE o_orderkey <= 1000) AS rows_api,
        |  (SELECT count(*) FROM orders) AS rows_v2
        |FROM orders WHERE o_orderkey <= 1000
        |GROUP BY 1 ORDER BY prio""".stripMargin,
    "x_iceberg_sql_insert" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  (SELECT count(*) FROM orders) AS rows_appended,
        |  (SELECT count(*) FROM orders WHERE o_orderkey <= 1000) AS rows_api,
        |  (SELECT count(*) FROM orders) AS rows_snap3
        |FROM orders WHERE o_orderkey <= 1000
        |GROUP BY 1 ORDER BY prio""".stripMargin,
    // MOR-state SQL reads, uncompacted: post-delete live rows only
    "x_delta_sql_read_dv" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  count(CASE WHEN o_orderkey <= 2000 THEN 1 END) AS n_low
        |FROM orders WHERE o_orderkey NOT BETWEEN 1 AND 800
        |GROUP BY 1 ORDER BY prio""".stripMargin,
    "x_iceberg_sql_read_mor" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  count(CASE WHEN o_orderkey <= 2000 THEN 1 END) AS n_low
        |FROM orders WHERE o_orderkey NOT BETWEEN 1 AND 800
        |GROUP BY 1 ORDER BY prio""".stripMargin,
    // day-transform pruning: the 5-day window's aggregate; 5 of the 30
    // day-partition files opened (events span exactly 2024-01-01..30)
    "x_iceberg_partition_time" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS user_sum,
        |  round(sum(value), 2) AS value_sum,
        |  CAST(5 AS BIGINT) AS files_scanned,
        |  CAST(30 AS BIGINT) AS files_total
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-09'
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    // SQL DELETE through the catalog: two range deletes on Delta (plus
    // version-0 and format-reader pins), one MOR delete on Iceberg whose
    // post-delete read serves uncompacted
    "x_delta_sql_delete" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  (SELECT count(*) FROM orders) AS rows_v0,
        |  (SELECT count(*) FROM orders
        |    WHERE o_orderkey NOT BETWEEN 1 AND 700
        |      AND o_orderkey < 2500) AS rows_api
        |FROM orders
        |WHERE o_orderkey NOT BETWEEN 1 AND 700 AND o_orderkey < 2500
        |GROUP BY 1 ORDER BY prio""".stripMargin,
    "x_iceberg_sql_delete" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  TRUE AS mor_delete_files
        |FROM orders WHERE o_orderkey NOT BETWEEN 1 AND 700
        |GROUP BY 1 ORDER BY prio""".stripMargin,
    // SQL DML on a DV-carrying table: API DV-delete 100..200, SQL DELETE
    // 201..300 (merged vectors, file set unchanged), SQL UPDATE doubling
    // live 301..400 through the masked scan
    "x_delta_sql_delete_dv" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(CASE WHEN o_orderkey BETWEEN 301 AND 400
        |    THEN o_totalprice * 2 ELSE o_totalprice END), 2) AS total,
        |  TRUE AS dv_route_no_rewrite,
        |  (SELECT count(*) FROM orders
        |    WHERE o_orderkey NOT BETWEEN 100 AND 300) AS rows_api
        |FROM orders WHERE o_orderkey NOT BETWEEN 100 AND 300
        |GROUP BY 1 ORDER BY prio""".stripMargin,
    // the change feed as a streaming source: insert all orders, SQL
    // DELETE 1..700, merge %100==0 (+1000; deleted ones re-insert) —
    // the census reproduces relationally, stream drain == batch feed
    "x_delta_cdf_stream" ->
      """SELECT ct, n, total, TRUE AS stream_equals_batch FROM (
        |  SELECT 'insert' AS ct,
        |    (SELECT count(*) FROM orders) + (SELECT count(*) FROM orders
        |       WHERE o_orderkey % 100 = 0
        |         AND o_orderkey BETWEEN 1 AND 700) AS n,
        |    round((SELECT sum(o_totalprice) FROM orders) +
        |      (SELECT coalesce(sum(o_totalprice + 1000), 0) FROM orders
        |       WHERE o_orderkey % 100 = 0
        |         AND o_orderkey BETWEEN 1 AND 700), 2) AS total
        |  UNION ALL
        |  SELECT 'delete', count(*), round(sum(o_totalprice), 2)
        |  FROM orders WHERE o_orderkey BETWEEN 1 AND 700
        |  UNION ALL
        |  SELECT 'update_preimage', count(*), round(sum(o_totalprice), 2)
        |  FROM orders WHERE o_orderkey % 100 = 0
        |    AND o_orderkey NOT BETWEEN 1 AND 700
        |  UNION ALL
        |  SELECT 'update_postimage', count(*),
        |    round(sum(o_totalprice + 1000), 2)
        |  FROM orders WHERE o_orderkey % 100 = 0
        |    AND o_orderkey NOT BETWEEN 1 AND 700
        |) ORDER BY ct""".stripMargin,
    // Iceberg change feed streamed: insert all + evens re-keyed, MOR
    // delete 1..700 then fresh positions 701..800 only
    "x_iceberg_cdf_stream" ->
      """SELECT ct, n, total, TRUE AS stream_equals_batch FROM (
        |  SELECT 'insert' AS ct,
        |    (SELECT count(*) FROM orders) + (SELECT count(*) FROM orders
        |       WHERE o_orderkey % 2 = 0) AS n,
        |    round((SELECT sum(o_totalprice) FROM orders) +
        |      (SELECT sum(o_totalprice) FROM orders
        |       WHERE o_orderkey % 2 = 0), 2) AS total
        |  UNION ALL
        |  SELECT 'delete', count(*), round(sum(o_totalprice), 2)
        |  FROM orders WHERE o_orderkey BETWEEN 1 AND 800
        |) ORDER BY ct""".stripMargin,
    // v3 deletion vectors: DELETE 1..900 through two overlapping Puffin
    // vectors, keys <= 50 re-appended after (survive by sequence),
    // compaction materializes; tt_rows = census after the FIRST vector
    "x_iceberg_dv_puffin" ->
      """WITH live AS (
        |  SELECT * FROM orders WHERE o_orderkey NOT BETWEEN 1 AND 900
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderkey <= 50
        |)
        |SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  TRUE AS puffin_only, TRUE AS deletes_gone,
        |  (SELECT count(*) FROM orders
        |   WHERE o_orderkey NOT BETWEEN 1 AND 700) AS tt_rows,
        |  (SELECT count(*) FROM orders
        |   WHERE o_orderkey > 700 AND o_orderkey <= 900) AS cdf_fresh
        |FROM live GROUP BY 1 ORDER BY prio""".stripMargin,
    // WAP through SQL: branch write staged keys <= 100 doubled, then
    // fastForward published — final main = base ∪ staged
    "x_iceberg_sql_write_branch" ->
      """WITH live AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice * 2, o_orderpriority
        |  FROM orders WHERE o_orderkey <= 100
        |)
        |SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total, TRUE AS wap_ok
        |FROM live GROUP BY 1 ORDER BY prio""".stripMargin,
    // DESCRIBE DETAIL: metadata-layer recounts pinned vs the source
    "x_sql_describe_detail" ->
      """SELECT 'delta' AS format, CAST(4 AS BIGINT) AS num_files,
        |  (SELECT count(*) FROM orders) AS num_records, TRUE AS size_ok
        |UNION ALL
        |SELECT 'iceberg', CAST(4 AS BIGINT),
        |  (SELECT count(*) FROM orders), TRUE
        |ORDER BY format""".stripMargin,
    // manifest compaction: census must be byte-identical through the
    // rewrite — live = (orders − eq-deleted 1..300 − pos-deleted
    // 400..600) ∪ doubled re-adds <= 150 (sequence survivors)
    "x_iceberg_rewrite_manifests" ->
      """WITH live AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |  WHERE o_orderkey NOT BETWEEN 1 AND 300
        |    AND o_orderkey NOT BETWEEN 400 AND 600
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice * 2, o_orderpriority
        |  FROM orders WHERE o_orderkey <= 150
        |)
        |SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total, TRUE AS consolidated
        |FROM live GROUP BY 1 ORDER BY prio""".stripMargin,
    // TRUNCATE both formats, then re-insert keys <= 500 — the final
    // census is only the re-inserted subset
    "x_sql_truncate" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  TRUE AS lifecycle_ok, TRUE AS twin_match
        |FROM orders WHERE o_orderkey <= 500
        |GROUP BY 1 ORDER BY prio""".stripMargin,
    // evolving MERGE: target = evens (no priority column); source =
    // k%3==0 with +500 price and the priority column; matched evens
    // updated, odd multiples of 3 inserted, untouched evens keep NULL
    "x_sql_merge_evolution" ->
      """WITH merged AS (
        |  SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
        |  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice + 500, o_orderpriority
        |  FROM orders WHERE o_orderkey % 3 = 0
        |)
        |SELECT coalesce(o_orderpriority, '(none)') AS prio,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  TRUE AS twin_match
        |FROM merged GROUP BY 1 ORDER BY prio""".stripMargin,
    // time-travel-wide metadata walk: entries recount = source census,
    // all_files = both halves + the compacted copy (history live)
    "x_iceberg_meta_all" ->
      """SELECT (SELECT count(*) FROM orders) AS live_records,
        |  (SELECT 2 * count(*) FROM orders) AS alltime_records,
        |  TRUE AS walk_wider""".stripMargin,
    // bad-ingest remedies through CALL: Iceberg rolled back to the good
    // snapshot then appended keys <= 100 (branching from the restored
    // head); Delta restored to v0 — final census = orders ∪ orders<=100
    "x_sql_call_rollback" ->
      """WITH live AS (
        |  SELECT * FROM orders
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderkey <= 100
        |)
        |SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  TRUE AS rolled_back, TRUE AS orphan_ok, TRUE AS branched,
        |  TRUE AS delta_restored
        |FROM live GROUP BY 1 ORDER BY prio""".stripMargin,
    // Iceberg DML change kinds streamed end-to-end: single-column +
    // COMPOSITE-tuple equality deletes, a sequence-gated upsert, then
    // SQL UPDATE on the eq-carrying table; oracle pins the FINAL census
    // (tuple over-delete hazard: non-urgent rows sharing a deleted key
    // survive) with stream == batch riding as a boolean
    "x_iceberg_cdf_stream_dml" ->
      """WITH live0 AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |  WHERE o_orderkey NOT BETWEEN 900 AND 950
        |    AND NOT (o_orderkey <= 1000 AND o_orderpriority = '1-URGENT')
        |), reins AS (
        |  SELECT o_orderkey, o_totalprice + 5000.0 AS o_totalprice,
        |    o_orderpriority
        |  FROM orders
        |  WHERE o_orderkey <= 1000 AND o_orderpriority = '1-URGENT'
        |  ORDER BY o_orderkey LIMIT 1
        |), fin AS (
        |  SELECT o_orderpriority,
        |    CASE WHEN o_orderkey % 500 = 0 THEN o_totalprice + 10.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM (SELECT * FROM live0 UNION ALL SELECT * FROM reins)
        |)
        |SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  TRUE AS stream_equals_batch
        |FROM fin GROUP BY 1 ORDER BY prio""".stripMargin,
    // partitioned writeStream.toTable: all orders streamed in, every
    // epoch add carrying partitionValues, urgent partition pruned exact
    "x_delta_stream_to_table_partitioned" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  TRUE AS pvals_pruned, TRUE AS exactly_once
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    // Iceberg partitioned writeStream.toTable under truncate(1): all
    // orders streamed in, manifest p0 pruning exact, epoch replay no-op
    "x_iceberg_stream_to_table_partitioned" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  TRUE AS pvals_pruned, TRUE AS exactly_once
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    // SQL OPTIMIZE/VACUUM: compaction drops file count, dataChange=false
    // keeps the change feed silent, VACUUM deletes the unreferenced files
    "x_delta_sql_optimize" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  TRUE AS compacted, TRUE AS cdf_silent,
        |  (SELECT count(*) FROM orders) AS rows_v0, TRUE AS vacuumed
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    // Iceberg CALL procedures: rewrite_data_files compacts (rows
    // byte-identical), expire_snapshots drops history + its files
    "x_iceberg_sql_maintenance" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  TRUE AS compacted, TRUE AS expired
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    // column-mapped SQL UPDATE: price renamed then doubled for keys
    // 100..300 via field-id binding; v0 serves original names
    "x_delta_cm_sql_update" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(CASE WHEN o_orderkey BETWEEN 100 AND 300
        |    THEN o_totalprice * 2 ELSE o_totalprice END), 2) AS total,
        |  TRUE AS v0_original_names, TRUE AS api_agrees
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    // SQL UPDATE: keys 100..300 doubled; the rewrite touched a strict
    // subset of files (carried + removed both nonempty)
    "x_delta_sql_update" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(CASE WHEN o_orderkey BETWEEN 100 AND 300
        |    THEN o_totalprice * 2 ELSE o_totalprice END), 2) AS total,
        |  TRUE AS rewrote_subset
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    // SQL MERGE INTO: base (k%4<>3) with evens upserted (+500), k%8==1
    // deleted, unmatched evens inserted — all one statement
    "x_delta_sql_merge" ->
      """WITH base AS (SELECT o_orderkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey % 4 <> 3),
        |u AS (SELECT o_orderkey, o_totalprice + 500.0 AS p,
        |    o_orderpriority FROM orders WHERE o_orderkey % 2 = 0),
        |fin AS (
        |  SELECT COALESCE(u.o_orderkey, base.o_orderkey) AS k,
        |    COALESCE(u.p, base.o_totalprice) AS p,
        |    COALESCE(u.o_orderpriority, base.o_orderpriority) AS prio
        |  FROM base FULL JOIN u ON base.o_orderkey = u.o_orderkey
        |  WHERE COALESCE(u.o_orderkey, base.o_orderkey) % 8 <> 1
        |     OR COALESCE(u.o_orderkey, base.o_orderkey) % 4 = 3)
        |SELECT prio, count(*) AS n, round(sum(p), 2) AS total
        |FROM fin GROUP BY 1 ORDER BY prio""".stripMargin,
    // partitioned SQL UPDATE: 1-URGENT doubled in place, sibling
    // partitions carried, every live file still declares its partition
    "x_delta_sql_update_partitioned" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN o_totalprice * 2 ELSE o_totalprice END), 2) AS total,
        |  TRUE AS rewrote_subset, TRUE AS pvals_declared
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    // Iceberg identity partitioning: 1-URGENT statically overwritten
    // (doubled) in one snapshot, siblings carried, manifests pruning
    "x_iceberg_partition_identity" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN o_totalprice * 2 ELSE o_totalprice END), 2) AS total,
        |  TRUE AS pruned, TRUE AS sibling_carried
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    // identity-partitioned Iceberg SQL UPDATE: 1-URGENT doubled, sibling
    // partition carried, rewritten files still partition-planned
    "x_iceberg_sql_update_partitioned" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN o_totalprice * 2 ELSE o_totalprice END), 2) AS total,
        |  TRUE AS rewrote_subset, TRUE AS pvals_declared
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    // hidden-transform SQL DML: keys 100..300 doubled, then %10==0 keys
    // merged back to original+1000; events day 2024-01-02 +100; all
    // pruning/carry/time-travel instruments pinned TRUE
    "x_iceberg_sql_update_hidden" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000
        |    WHEN o_orderkey BETWEEN 100 AND 300 THEN o_totalprice * 2
        |    ELSE o_totalprice END), 2) AS total,
        |  TRUE AS sibling_carried, TRUE AS pruned_exact,
        |  TRUE AS prior_travels, TRUE AS day_carried, TRUE AS day_pruned,
        |  (SELECT round(sum(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-02'
        |     THEN value + 100 ELSE value END), 2) FROM events) AS day_total
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    // SQL DML over merge-on-read state: keys 1..50 position-deleted,
    // 400..450 equality-deleted, survivors 100..300 doubled, then
    // %10==0 survivors merged back to original+1000; all MOR
    // instruments (fast-path, uncompacted, no-resurrection,
    // time-travel) pinned TRUE
    "x_iceberg_sql_update_mor" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000
        |    WHEN o_orderkey BETWEEN 100 AND 300 THEN o_totalprice * 2
        |    ELSE o_totalprice END), 2) AS total,
        |  TRUE AS mor_fast_path, TRUE AS uncompacted,
        |  TRUE AS no_resurrection, TRUE AS prior_travels
        |FROM orders
        |WHERE o_orderkey NOT BETWEEN 1 AND 50
        |  AND o_orderkey NOT BETWEEN 400 AND 450
        |GROUP BY 1 ORDER BY prio""".stripMargin,
    // the tag pins the even-key state; instruments TRUE (tag < head,
    // expiration dropped snapshots, tag still serves after)
    "x_iceberg_sql_read_ref" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  TRUE AS tag_pinned, TRUE AS expired_some,
        |  TRUE AS tag_survives_expiry
        |FROM orders WHERE o_orderkey % 2 = 0
        |GROUP BY 1 ORDER BY prio""".stripMargin,
    // Iceberg SQL UPDATE: same shape as the Delta key — keys 100..300
    // doubled, manifest-carried subset pinned
    "x_iceberg_sql_update" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(CASE WHEN o_orderkey BETWEEN 100 AND 300
        |    THEN o_totalprice * 2 ELSE o_totalprice END), 2) AS total,
        |  TRUE AS rewrote_subset
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    // Iceberg SQL MERGE INTO: base (k%4<>3) with evens upserted (+500),
    // k%8==1 deleted, unmatched evens inserted — one overwrite snapshot
    "x_iceberg_sql_merge" ->
      """WITH base AS (SELECT o_orderkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey % 4 <> 3),
        |u AS (SELECT o_orderkey, o_totalprice + 500.0 AS p,
        |    o_orderpriority FROM orders WHERE o_orderkey % 2 = 0),
        |fin AS (
        |  SELECT COALESCE(u.o_orderkey, base.o_orderkey) AS k,
        |    COALESCE(u.p, base.o_totalprice) AS p,
        |    COALESCE(u.o_orderpriority, base.o_orderpriority) AS prio
        |  FROM base FULL JOIN u ON base.o_orderkey = u.o_orderkey
        |  WHERE COALESCE(u.o_orderkey, base.o_orderkey) % 8 <> 1
        |     OR COALESCE(u.o_orderkey, base.o_orderkey) % 4 = 3)
        |SELECT prio, count(*) AS n, round(sum(p), 2) AS total
        |FROM fin GROUP BY 1 ORDER BY prio""".stripMargin,
    // readStream.table: first drain = the snapshot (evens), resumed
    // drain = only the appended odds
    "x_delta_stream_read" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0)
        |    AS batch1_rows,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 1)
        |    AS batch2_rows
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    "x_iceberg_stream_read" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0)
        |    AS batch1_rows,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 1)
        |    AS batch2_rows
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    // writeStream.toTable: the drained stream IS the orders table, plus
    // the replayed-epoch exactly-once pin
    "x_delta_stream_to_table" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  TRUE AS exactly_once
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    "x_iceberg_stream_to_table" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  TRUE AS exactly_once
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    // ALTER TABLE ADD COLUMNS: evens inserted pre-evolution (surface the
    // column as NULL → 'PRE-EVOLUTION'), odds post-evolution carry it;
    // the ALTER itself moved no files
    "x_delta_sql_alter" ->
      """SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
        |    ELSE 'PRE-EVOLUTION' END AS prio,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  TRUE AS metadata_only
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    "x_iceberg_sql_alter" ->
      """SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
        |    ELSE 'PRE-EVOLUTION' END AS prio,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  TRUE AS metadata_only
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    // Iceberg RENAME/DROP COLUMN: pre-rename files serve under the new
    // name (head census = ALL orders), time travel below the rename
    // answers under the original names including the since-dropped junk
    "x_iceberg_sql_alter_rename" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  TRUE AS metadata_only,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0) AS tt_n,
        |  (SELECT round(sum(o_totalprice), 2) FROM orders
        |   WHERE o_orderkey % 2 = 0) AS tt_total,
        |  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders
        |   WHERE o_orderkey % 2 = 0) AS tt_junk
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    // Iceberg TIMESTAMP AS OF through the stamped snapshot ledger:
    // ts1 window sees the first third, at-ts2 sees two thirds
    "x_iceberg_timestamp_as_of" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0) AS rows_ts1,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 <= 1) AS rows_ts2
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    // static partition overwrite: 1-URGENT's prices doubled in one
    // commit, the other partitions byte-untouched
    "x_delta_sql_overwrite_partition" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN o_totalprice * 2 ELSE o_totalprice END), 2) AS total,
        |  TRUE AS sibling_files
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    // string bounds + null counts: the range plan opens 2 of 5
    // value-clustered files, the IS-NULL audit opens 1 (the hash layout
    // over the 6 distinct values is scale-factor-independent)
    "x_iceberg_skipping_str" ->
      """WITH src AS (SELECT o_totalprice,
        |    CASE WHEN o_orderkey % 97 = 0 THEN NULL
        |         ELSE o_orderpriority END AS prio
        |  FROM orders)
        |SELECT prio, count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  (SELECT count(*) FROM src WHERE prio IS NULL) AS null_rows,
        |  CAST(2 AS BIGINT) AS range_files,
        |  CAST(1 AS BIGINT) AS null_files,
        |  CAST(5 AS BIGINT) AS files_total
        |FROM src WHERE prio >= '2' AND prio <= '4'
        |GROUP BY 1 ORDER BY prio""".stripMargin,
    // Puffin-steered join: the written NDV blob (40 keys) licenses the
    // broadcast key-set prefilter; keys 0..39 join orders 0..39
    "x_puffin_join" ->
      """SELECT r.o_orderpriority AS prio, count(*) AS n,
        |  round(sum(l.o_totalprice), 2) AS total,
        |  'ndv_prefilter' AS strategy
        |FROM orders l JOIN orders r ON l.o_orderkey % 40 = r.o_orderkey
        |GROUP BY 1 ORDER BY prio""".stripMargin,
    // Puffin lifecycle through SQL: no blob → shuffle; CALL
    // write_statistics → ndv_prefilter; CALL rewrite_data_files
    // re-anchors → still ndv_prefilter, stats fresh
    "x_iceberg_sql_write_statistics" ->
      """SELECT r.o_orderpriority AS prio, count(*) AS n,
        |  round(sum(l.o_totalprice), 2) AS total,
        |  'shuffle' AS flip_before, 'ndv_prefilter' AS flip_after,
        |  'ndv_prefilter' AS after_compact, TRUE AS stats_fresh
        |FROM orders l JOIN orders r ON l.o_orderkey % 40 = r.o_orderkey
        |GROUP BY 1 ORDER BY prio""".stripMargin,
    // storage-partitioned join: co-bucketed tables join with ZERO
    // shuffles (join_shuffles pinned 0); the aggregate is relational
    "x_spj_join" ->
      """WITH items AS (
        |  SELECT l_orderkey, sum(l_quantity) AS qty
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  round(sum(qty), 2) AS qty_sum,
        |  CAST(0 AS BIGINT) AS join_shuffles
        |FROM orders JOIN items ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    // bucket[8] pruning: keys 10,12 share bucket 4, key 11 is bucket 7
    // (spec murmur3 seed 0) — 2 of 8 bucket files opened
    "x_iceberg_bucket" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price,
        |  CAST(2 AS BIGINT) AS files_scanned,
        |  CAST(8 AS BIGINT) AS files_total
        |FROM orders WHERE o_orderkey IN (10, 11, 12)
        |ORDER BY o_orderkey""".stripMargin,
    "x_iceberg_schema_evolution" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "x_delta_schema_evolution" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "x_iceberg_incremental" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS user_sum,
        |  round(sum(value), 2) AS value_sum
        |FROM events WHERE event_id % 2 = 1
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the tag reads snapshot 1 (the even keys); one untagged snapshot
    // expired; main tracks the head (all keys, disjoint appends)
    "x_iceberg_refs" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  CAST(1 AS BIGINT) AS expired,
        |  (SELECT count(*) FROM orders) AS main_rows
        |FROM orders WHERE o_orderkey % 2 = 0
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    // keys 1..200 deleted by VALUE, key 1 re-appended repriced AFTER the
    // delete (strict sequence gating keeps it)
    "x_iceberg_eq_delete" ->
      """WITH kept AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |  WHERE o_orderkey NOT BETWEEN 1 AND 200),
        |re AS (
        |  SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice,
        |    o_orderpriority FROM orders WHERE o_orderkey = 1)
        |SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  CAST(200 AS BIGINT) AS values_written
        |FROM (SELECT * FROM kept UNION ALL SELECT * FROM re)
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    // composite-key equality delete: only (key<=1000 AND urgent) rows
    // die — same keys with other priorities survive (the tuple-match
    // pin); the re-appended urgent row outlives the delete by sequence
    "x_iceberg_eq_delete_multi" ->
      """WITH kept AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |  WHERE NOT (o_orderkey <= 1000 AND o_orderpriority = '1-URGENT')),
        |re AS (
        |  SELECT o_orderkey, o_totalprice + 5000.0 AS o_totalprice,
        |    o_orderpriority FROM orders
        |  WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders
        |    WHERE o_orderkey <= 1000 AND o_orderpriority = '1-URGENT'))
        |SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  CAST(1000 AS BIGINT) AS tuples_written
        |FROM (SELECT * FROM kept UNION ALL SELECT * FROM re)
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    // DELETE ... IN on a DV-carrying Delta table merges positions into
    // the vectors: range 1..800 DV-deleted, then the listed keys, file
    // set unchanged throughout
    "x_delta_sql_delete_in_dv" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total, TRUE AS no_rewrite
        |FROM orders
        |WHERE o_orderkey NOT BETWEEN 1 AND 800
        |  AND o_orderkey NOT IN (850, 900, 950, 1000, 1050, 1100)
        |GROUP BY 1 ORDER BY prio""".stripMargin,
    // DELETE ... IN lowers to an equality-delete commit: listed keys
    // gone (no rewrite, eq-kind file), re-inserted key 1 survives
    "x_iceberg_sql_delete_in" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  TRUE AS no_rewrite, TRUE AS eq_kind
        |FROM (
        |  SELECT o_orderpriority, o_totalprice FROM orders
        |  WHERE o_orderkey NOT IN (1, 2, 3, 4, 5, 6, 7, 32, 33, 34)
        |  UNION ALL
        |  SELECT '1-URGENT', 9999.0
        |) GROUP BY 1 ORDER BY prio""".stripMargin,
    // both halves committed (the poisoned batch refused), so the
    // aggregate equals the full table; both rejection flags true
    "x_delta_constraints" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  TRUE AS rejected_backfill, TRUE AS rejected_write
        |FROM orders
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    // the metadata layer recounted: 3 snapshots (2 appends + 1 delete,
    // head = delete), 4 data files (2 per hash-spread append) whose
    // record_count sums equal the source slice, ONE position-delete file
    // whose record_count equals the matched rows, 3 manifests carrying
    // 2+2+1 added entries, and the always-maintained `main` branch ref
    "x_iceberg_meta_tables" ->
      """SELECT CAST(3 AS BIGINT) AS n_snapshots, 'delete' AS current_op,
        |  CAST(4 AS BIGINT) AS n_data_files,
        |  (SELECT count(*) FROM events WHERE event_id % 3 IN (0, 1))
        |    AS data_records,
        |  CAST(1 AS BIGINT) AS n_delete_files,
        |  (SELECT count(*) FROM events
        |   WHERE event_id % 3 IN (0, 1) AND user_id BETWEEN 1 AND 50)
        |    AS deleted_records,
        |  CAST(3 AS BIGINT) AS n_manifests,
        |  CAST(5 AS BIGINT) AS n_added_entries,
        |  CAST(1 AS BIGINT) AS n_refs, 'branch' AS main_type""".stripMargin,
    // the feed replayed from the source relation: v2 inserted the %4==3
    // keys, v3 deleted [1,800], v4 updated [801,2000] (+100.0 each);
    // ranges are disjoint so every preimage row survived the delete
    "x_delta_cdf" ->
      """SELECT * FROM (
        |  SELECT 'insert' AS _change_type, count(*) AS n,
        |    round(sum(o_totalprice), 2) AS total, CAST(2 AS BIGINT) AS ver
        |  FROM orders WHERE o_orderkey % 4 = 3
        |  UNION ALL
        |  SELECT 'delete', count(*), round(sum(o_totalprice), 2),
        |    CAST(3 AS BIGINT)
        |  FROM orders WHERE o_orderkey BETWEEN 1 AND 800
        |  UNION ALL
        |  SELECT 'update_preimage', count(*), round(sum(o_totalprice), 2),
        |    CAST(4 AS BIGINT)
        |  FROM orders WHERE o_orderkey BETWEEN 801 AND 2000
        |  UNION ALL
        |  SELECT 'update_postimage', count(*),
        |    round(sum(o_totalprice + 100.0), 2), CAST(4 AS BIGINT)
        |  FROM orders WHERE o_orderkey BETWEEN 801 AND 2000
        |) ORDER BY _change_type""".stripMargin,
    // rename + drop are metadata-only (files_moved false); the aggregate
    // runs under the post-rename logical name
    "x_delta_column_mapping" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total_price,
        |  FALSE AS files_moved, TRUE AS old_name_at_v1, TRUE AS purged
        |FROM orders""".stripMargin,
    // appends 2 and 4 (event_id % 3 in {1, 2}) cross the replace; the
    // compaction itself adds no rows and the legacy feed refuses
    "x_iceberg_incr_replace" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS user_sum,
        |  round(sum(value), 2) AS value_sum,
        |  TRUE AS legacy_refuses
        |FROM events WHERE event_id % 3 IN (1, 2)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x_iceberg_roundtrip" -> aggSql,
    // same contract as x_delta_skipping, planned off Iceberg manifests
    "x_iceberg_skipping" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  CAST(1 AS BIGINT) AS files_scanned,
        |  CAST(4 AS BIGINT) AS files_total
        |FROM orders
        |WHERE o_orderkey <= (SELECT max(o_orderkey) // 4 FROM orders)""".stripMargin,
    // 1/2: one pre-overwrite snapshot expired, its two pinned data files
    // swept; the post-overwrite aggregate must be byte-identical
    "x_iceberg_expire" ->
      """SELECT count(*) AS n,
        |  round(sum(o_totalprice +
        |    CASE WHEN o_orderkey % 3 = 0 THEN 1000.0 ELSE 0.0 END), 2)
        |    AS total,
        |  CAST(1 AS BIGINT) AS n_snapshots_expired,
        |  CAST(2 AS BIGINT) AS n_files_deleted
        |FROM orders""".stripMargin,
    // the pruned scan carries NO row filter — equality with this filtered
    // aggregate is the hidden-partitioning proof; files_total = distinct
    // months (one file per transform value by construction)
    "x_iceberg_partition" ->
      """SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS o_month,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  CAST(2 AS BIGINT) AS files_scanned,
        |  (SELECT count(DISTINCT strftime(CAST(o_orderdate AS DATE), '%Y-%m'))
        |     FROM orders) AS files_total
        |FROM orders
        |WHERE strftime(CAST(o_orderdate AS DATE), '%Y-%m') IN ('1996-03', '1997-07')
        |GROUP BY 1 ORDER BY o_month""".stripMargin,
    "x_iceberg_time_travel" ->
      """SELECT CAST(0 AS BIGINT) AS version, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total FROM orders
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), count(*),
        |  round(sum(o_totalprice +
        |    CASE WHEN o_orderkey % 3 = 0 THEN 1000.0 ELSE 0.0 END), 2)
        |FROM orders
        |ORDER BY version""".stripMargin,
    "x_delta_roundtrip" -> aggSql,
    // constants 2/1 are the EXPECTED snapshot-assembly stats (checkpoint
    // at v2, one JSON commit after it); Spark computes them from the read
    "x_delta_checkpoint" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS user_sum,
        |  round(sum(value), 2) AS value_sum,
        |  CAST(2 AS BIGINT) AS checkpoint_version,
        |  CAST(1 AS BIGINT) AS n_json_replayed
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the skipped scan reads only the first key quarter's file; 1/4 are
    // the expected stats-walk counts, computed Spark-side from the log
    "x_delta_skipping" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  CAST(1 AS BIGINT) AS files_scanned,
        |  CAST(4 AS BIGINT) AS files_total
        |FROM orders
        |WHERE o_orderkey <= (SELECT max(o_orderkey) // 4 FROM orders)""".stripMargin,
    // 1 rewritten file = the stats-planned minimum; rows deleted and the
    // surviving aggregate both recomputed from the raw table
    "x_delta_delete" ->
      """SELECT count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  CAST(1 AS BIGINT) AS n_files_rewritten,
        |  (SELECT count(*) FROM orders
        |   WHERE o_orderkey <= (SELECT (max(o_orderkey) // 4) // 2
        |                        FROM orders)) AS n_rows_deleted
        |FROM orders
        |WHERE o_orderkey > (SELECT (max(o_orderkey) // 4) // 2 FROM orders)""".stripMargin,
    // merge-on-read delete: overlapping ranges [q,2q] and [3q/2,5q/2] —
    // rows_deleted_2 counts only the NEW half (union merge); the final
    // read excludes the combined range; files_unchanged pins no-rewrite
    "x_delta_dv" ->
      """WITH b AS (SELECT max(o_orderkey) // 4 AS q FROM orders)
        |SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  (SELECT count(*) FROM orders, b
        |   WHERE o_orderkey BETWEEN q AND 2*q) AS rows_deleted_1,
        |  (SELECT count(*) FROM orders, b
        |   WHERE o_orderkey BETWEEN (3*q)//2 AND (5*q)//2
        |     AND o_orderkey NOT BETWEEN q AND 2*q) AS rows_deleted_2,
        |  (SELECT count(*) FROM orders) AS rows_before,
        |  TRUE AS files_unchanged
        |FROM orders, b
        |WHERE o_orderkey NOT BETWEEN q AND (5*q)//2
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    // Iceberg v2 position deletes: same union/merge contract as
    // x_delta_dv — overlapping ranges, second delete counts only the new
    // half, data-file set pinned unchanged
    "x_iceberg_dv" ->
      """WITH b AS (SELECT max(o_orderkey) // 4 AS q FROM orders)
        |SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  (SELECT count(*) FROM orders, b
        |   WHERE o_orderkey BETWEEN q AND 2*q) AS rows_deleted_1,
        |  (SELECT count(*) FROM orders, b
        |   WHERE o_orderkey BETWEEN (3*q)//2 AND (5*q)//2
        |     AND o_orderkey NOT BETWEEN q AND 2*q) AS rows_deleted_2,
        |  (SELECT count(*) FROM orders) AS rows_before,
        |  TRUE AS files_unchanged
        |FROM orders, b
        |WHERE o_orderkey NOT BETWEEN q AND (5*q)//2
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    // partitions metadata table: record counts recounted from manifests
    // must equal the relation's per-prefix counts; 2 files per value (one
    // per commit, one file per transform value by construction)
    "x_iceberg_partitions_table" ->
      """SELECT substring(o_orderpriority, 1, 1) AS partition,
        |  CAST(2 AS BIGINT) AS n_files, count(*) AS record_count
        |FROM orders GROUP BY 1 ORDER BY partition""".stripMargin,
    // append-only: both halves present (the delete/overwrite refusals
    // left no mark), compaction still legal
    "x_delta_append_only" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  TRUE AS delete_refused, TRUE AS overwrite_refused,
        |  CAST(1 AS BIGINT) AS files_after_optimize
        |FROM orders""".stripMargin,
    // sort order: aggregate byte-identical across the sorted rewrite;
    // hash layout keeps all 4 files for the [0, max/8] probe, the
    // range-clustered layout keeps fewer
    "x_iceberg_sort_order" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  CAST(4 AS BIGINT) AS kept_before,
        |  CAST(4 AS BIGINT) AS files_total,
        |  CAST(4 AS BIGINT) AS files_after,
        |  TRUE AS skipping_improved
        |FROM orders""".stripMargin,
    // WAP: main = published batches only (the rejected odd-user %3==2
    // rows never appear); staged-branch visibility and the expiration
    // count pinned; 2 expired = the pre-publish base + the dropped reject
    "x_iceberg_wap" ->
      """WITH main AS (
        |  SELECT * FROM events
        |  WHERE event_id % 3 = 0 OR event_id % 3 = 1
        |     OR (event_id % 3 = 2 AND user_id % 2 = 0))
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS user_sum,
        |  round(sum(value), 2) AS value_sum,
        |  (SELECT count(*) FROM events WHERE event_id % 3 = 0)
        |    AS rows_main_during_audit,
        |  (SELECT count(*) FROM events
        |   WHERE event_id % 3 = 0 OR event_id % 3 = 1) AS rows_staged,
        |  CAST(2 AS BIGINT) AS snapshots_expired
        |FROM main GROUP BY event_type ORDER BY event_type""".stripMargin,
    // spec evolution: the unfiltered planned scan equals this filtered
    // aggregate only if BOTH specs' residuals pruned correctly (first-char
    // residual for the old files, exact prefix-3 for the new); file counts
    // are the distinct transform values per phase
    "x_iceberg_spec_evolution" ->
      """WITH odd AS (SELECT DISTINCT substring(o_orderpriority, 1, 1) AS d
        |             FROM orders WHERE o_orderkey % 2 = 1),
        |     evn AS (SELECT DISTINCT substring(o_orderpriority, 1, 3) AS d
        |             FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  (SELECT count(*) FROM odd WHERE d IN ('1', '4')) +
        |  (SELECT count(*) FROM evn WHERE d IN ('1-U', '4-N'))
        |    AS files_scanned,
        |  (SELECT count(*) FROM odd) + (SELECT count(*) FROM evn)
        |    AS files_total
        |FROM orders
        |WHERE substring(o_orderpriority, 1, 3) IN ('1-U', '4-N')
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    // generated columns: the omitted-column batch only matches if the
    // writer derived o_year correctly from the declared expression
    "x_delta_generated" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  CAST(1 AS BIGINT) AS n_generated
        |FROM orders GROUP BY 1 ORDER BY o_year""".stripMargin,
    // Iceberg MERGE INTO: evens upserted (+500), the %4==3 keys inserted
    // (+1000), odds untouched; the file booleans pin file-granular
    // copy-on-write (odd-key files carried by reference, even-key files
    // rewritten out of the live set)
    "x_iceberg_merge" ->
      """SELECT count(*) AS n,
        |  round(sum(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 500
        |                 WHEN o_orderkey % 4 = 3 THEN o_totalprice + 1000
        |                 ELSE o_totalprice END), 2) AS total,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0)
        |    AS rows_updated,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 4 = 3)
        |    AS rows_inserted,
        |  TRUE AS untouched_retained,
        |  TRUE AS touched_rewritten
        |FROM orders""".stripMargin,
    // Iceberg v2 merge-on-read UPDATE: overlapping updates stack (the
    // overlap gets both +500 and +1000), the pre-update snapshot still
    // sums to the original total, and no original data file is rewritten
    "x_iceberg_update" ->
      """WITH b AS (SELECT max(o_orderkey) // 4 AS q FROM orders)
        |SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice
        |    + CASE WHEN o_orderkey BETWEEN q AND 2*q
        |        THEN 500 ELSE 0 END
        |    + CASE WHEN o_orderkey BETWEEN (3*q)//2 AND (5*q)//2
        |        THEN 1000 ELSE 0 END), 2) AS total,
        |  (SELECT count(*) FROM orders, b
        |   WHERE o_orderkey BETWEEN q AND 2*q) AS rows_updated_1,
        |  (SELECT count(*) FROM orders, b
        |   WHERE o_orderkey BETWEEN (3*q)//2 AND (5*q)//2) AS rows_updated_2,
        |  (SELECT round(sum(o_totalprice), 2) FROM orders) AS total_before,
        |  TRUE AS old_files_retained
        |FROM orders, b
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    // the expected provenance rows; every count on the Spark side is
    // counted from the committed log actions, not asserted
    "x_delta_history" ->
      """SELECT CAST(version AS BIGINT) AS version, operation,
        |  CAST(n_adds AS BIGINT) AS n_adds,
        |  CAST(n_removes AS BIGINT) AS n_removes
        |FROM (VALUES (0, 'WRITE', 2, 0), (1, 'WRITE', 1, 0),
        |  (2, 'OVERWRITE', 1, 3), (3, 'RESTORE', 3, 1))
        |  t(version, operation, n_adds, n_removes)
        |ORDER BY version""".stripMargin,
    // 4 → 1: the bin-pack is real (counts from the optimize return);
    // rows byte-identical pre/post is the compaction-correctness proof
    "x_delta_optimize" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  CAST(4 AS BIGINT) AS n_files_before,
        |  CAST(1 AS BIGINT) AS n_files_after
        |FROM orders""".stripMargin,
    // the pruned scan carries NO row filter — equality with this filtered
    // aggregate proves log-only partition pruning; files_total = distinct
    // priorities (one file per partition value by construction); the
    // wanted set includes a value with a SPACE (Hive-escaped on disk)
    "x_delta_partitioned" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  CAST(2 AS BIGINT) AS files_scanned,
        |  (SELECT count(DISTINCT o_orderpriority) FROM orders) AS files_total
        |FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '4-NOT SPECIFIED')
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    // pruned=1 is the Z-ORDER property: after re-clustering on the
    // Morton key, the (cx, dy) box intersects fewer than all 4 files'
    // stats ranges (a hash layout gives every file the full range);
    // the aggregate equality is the correctness half
    "x_delta_zorder" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  CAST(1 AS BIGINT) AS pruned, CAST(4 AS BIGINT) AS files_total
        |FROM orders
        |WHERE (o_custkey % 65536) BETWEEN 10 AND 60
        |  AND CAST(date_diff('day', DATE '1995-01-01',
        |        CAST(o_orderdate AS DATE)) AS BIGINT) % 65536
        |      BETWEEN 100 AND 400""".stripMargin,
    // bare OPTIMIZE consumes the declared clustering domain: same box
    // census as the explicit ZORDER key, feed silent, domain survives
    "x_delta_optimize_clustered" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  CAST(1 AS BIGINT) AS pruned, TRUE AS cdf_silent,
        |  TRUE AS domain_survives
        |FROM orders
        |WHERE (o_custkey % 65536) BETWEEN 10 AND 60
        |  AND CAST(date_diff('day', DATE '1995-01-01',
        |        CAST(o_orderdate AS DATE)) AS BIGINT) % 65536
        |      BETWEEN 100 AND 400""".stripMargin,
    // per-partition compaction: 10 (2 commits × 5 priorities) → 5 (one
    // per priority); the pruned post-optimize read proves the layout
    // survived — matched files still carry partitionValues
    "x_delta_optimize_partitioned" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  CAST(2 AS BIGINT) AS files_scanned,
        |  CAST(10 AS BIGINT) AS n_files_before,
        |  CAST(5 AS BIGINT) AS n_files_after
        |FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '4-NOT SPECIFIED')
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    // parity contract with x_delta_optimize: 4 → 1 via a `replace`
    // snapshot, rows byte-identical
    "x_iceberg_optimize" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  CAST(4 AS BIGINT) AS n_files_before,
        |  CAST(1 AS BIGINT) AS n_files_after
        |FROM orders""".stripMargin,
    // expected provenance: snapshots 1-3 (2+1 appended files, then the
    // overwrite), snapshot 4 = the idempotent batch-7 commit; every count
    // recounted from the manifest layer Spark-side, not asserted
    "x_iceberg_history" ->
      """SELECT CAST(snapshot_id AS BIGINT) AS snapshot_id, operation,
        |  CAST(n_added AS BIGINT) AS n_added_files,
        |  CAST(n_total AS BIGINT) AS n_total_files,
        |  CAST(batch_id AS BIGINT) AS batch_id
        |FROM (VALUES (1, 'append', 2, 2, -1), (2, 'append', 1, 3, -1),
        |  (3, 'overwrite', 1, 1, -1), (4, 'append', 1, 2, 7))
        |  t(snapshot_id, operation, n_added, n_total, batch_id)
        |ORDER BY snapshot_id""".stripMargin,
    // the restore commit is version 2; current content = version 0's
    "x_delta_restore" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  CAST(2 AS BIGINT) AS restore_version
        |FROM orders""".stripMargin,
    // 2/2: the overwrite tombstoned version 0's two pinned files, the
    // current snapshot keeps its own two; both counts computed, not set
    "x_delta_vacuum" ->
      """SELECT count(*) AS n,
        |  round(sum(o_totalprice +
        |    CASE WHEN o_orderkey % 3 = 0 THEN 1000.0 ELSE 0.0 END), 2)
        |    AS total,
        |  CAST(2 AS BIGINT) AS n_files_deleted,
        |  CAST(2 AS BIGINT) AS n_files_remaining
        |FROM orders""".stripMargin,
    "x_delta_merge" ->
      """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 4 <> 3),
        |u AS (SELECT o_orderkey, o_totalprice + 500.0 AS p FROM orders
        |  WHERE o_orderkey % 2 = 0),
        |d AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 8 = 1),
        |fin AS (SELECT COALESCE(u.o_orderkey, base.o_orderkey) AS k,
        |    COALESCE(u.p, base.o_totalprice) AS p
        |  FROM base FULL JOIN u ON base.o_orderkey = u.o_orderkey
        |  WHERE COALESCE(u.o_orderkey, base.o_orderkey)
        |    NOT IN (SELECT o_orderkey FROM d))
        |SELECT CAST(count(*) AS BIGINT) AS n, round(sum(p), 2) AS total,
        |  (SELECT CAST(count(*) AS BIGINT) FROM u
        |    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM base)) AS n_inserted,
        |  (SELECT CAST(count(*) AS BIGINT) FROM u
        |    WHERE o_orderkey IN (SELECT o_orderkey FROM base)) AS n_updated,
        |  (SELECT CAST(count(*) AS BIGINT) FROM d
        |    WHERE o_orderkey IN (SELECT o_orderkey FROM base)) AS n_deleted
        |FROM fin""".stripMargin,
    // MERGE's row-level change feed: preimage/postimage for matched
    // upserts, delete for matched D-keys, insert for unmatched upserts
    "x_delta_merge_cdf" ->
      """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 4 <> 3 AND o_orderkey % 8 <> 0),
        |mu AS (SELECT o_orderkey, o_totalprice FROM base
        |  WHERE o_orderkey % 2 = 0),
        |ins AS (SELECT o_orderkey, o_totalprice + 500.0 AS p FROM orders
        |  WHERE o_orderkey % 8 = 0),
        |del AS (SELECT o_orderkey, o_totalprice FROM base
        |  WHERE o_orderkey % 8 = 1)
        |SELECT * FROM (
        |  SELECT 'delete' AS _change_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |    round(sum(o_totalprice), 2) AS price_sum FROM del
        |  UNION ALL
        |  SELECT 'insert', CAST(count(*) AS BIGINT),
        |    CAST(sum(o_orderkey) AS BIGINT), round(sum(p), 2) FROM ins
        |  UNION ALL
        |  SELECT 'update_postimage', CAST(count(*) AS BIGINT),
        |    CAST(sum(o_orderkey) AS BIGINT),
        |    round(sum(o_totalprice + 500.0), 2) FROM mu
        |  UNION ALL
        |  SELECT 'update_preimage', CAST(count(*) AS BIGINT),
        |    CAST(sum(o_orderkey) AS BIGINT),
        |    round(sum(o_totalprice), 2) FROM mu
        |) WHERE n > 0 ORDER BY _change_type""".stripMargin,
    "x_delta_incremental" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS user_sum,
        |  round(sum(value), 2) AS value_sum
        |FROM events WHERE event_id % 2 = 1
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x_delta_time_travel" ->
      """SELECT CAST(0 AS BIGINT) AS version, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total FROM orders
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), count(*),
        |  round(sum(o_totalprice +
        |    CASE WHEN o_orderkey % 3 = 0 THEN 1000.0 ELSE 0.0 END), 2)
        |FROM orders
        |ORDER BY version""".stripMargin,
    // Rebuilds the deterministic DSv2 table from range() — the pushdown
    // path (filter/prune/slice) must not change the answer.
    "x_dsv2_scan" ->
      """WITH r AS (SELECT range AS id FROM range(0, 200000)),
        |d AS (SELECT id, id % 16 AS bucket,
        |    (id * 2654435761) % 1000003 AS val FROM r)
        |SELECT id % 7 AS g, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(val) AS BIGINT) AS val_sum,
        |  min(id) AS min_id, max(id) AS max_id
        |FROM d WHERE id >= 5000 AND id < 150000 AND bucket = 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_dict_encode" -> {
      def one(table: String, c: String) =
        s"""SELECT '$c' AS col_name,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(strlen($c)) AS BIGINT) AS raw_bytes,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  (SELECT CAST(sum(strlen(v)) AS BIGINT) FROM
           |    (SELECT DISTINCT $c AS v FROM $table WHERE $c IS NOT NULL))
           |    AS dict_bytes
           |FROM $table WHERE $c IS NOT NULL""".stripMargin
      s"""WITH b AS (${one("events", "event_type")}
         |UNION ALL ${one("documents", "lang")}
         |UNION ALL ${one("documents", "source")}),
         |w AS (SELECT *, CAST(length(bin(greatest(n_distinct - 1, 1)))
         |    AS BIGINT) AS bits_per_value FROM b),
         |e AS (SELECT *, (n_rows * bits_per_value + 7) // 8 + dict_bytes
         |    AS enc_bytes FROM w)
         |SELECT col_name, n_rows, raw_bytes, n_distinct, dict_bytes,
         |  bits_per_value, enc_bytes, (enc_bytes * 1000000) // raw_bytes
         |    AS ratio_e6
         |FROM e ORDER BY col_name""".stripMargin
    },
    "x_dsv2_agg" ->
      """WITH r AS (SELECT range AS id FROM range(0, 200000)),
        |d AS (SELECT id, id % 16 AS bucket,
        |    (id * 2654435761) % 1000003 AS val FROM r)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(val) AS BIGINT) AS val_sum,
        |  min(id) AS min_id, max(id) AS max_id
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // Aggregates the SOURCE table — hash match proves the two-generation
    // partition-layout union lost nothing.
    "x_partition_evolution" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    "x_stats_prune" ->
      """SELECT CAST(month(CAST(o_orderdate AS DATE)) AS INTEGER) AS m,
        |  CAST(count(*) AS BIGINT) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1996
        |GROUP BY 1 ORDER BY m""".stripMargin,
    "x_zorder" -> {
      val zx = spread16Sql("cx")
      val zy = spread16Sql("dy")
      s"""WITH d AS (SELECT o_custkey % 65536 AS cx,
         |    CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) % 65536 AS dy
         |  FROM orders),
         |z AS (SELECT cx, dy, ($zx | ($zy << 1)) AS z FROM d)
         |SELECT z // 262144 AS z_bucket, CAST(count(*) AS BIGINT) AS n,
         |  min(cx) AS min_cx, max(cx) AS max_cx,
         |  min(dy) AS min_dy, max(dy) AS max_dy
         |FROM z GROUP BY 1 ORDER BY z_bucket""".stripMargin
    },
    "x_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n, round(sum(l_quantity), 2) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "x_dpp" ->
      """SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS o_month,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE strftime(CAST(o_orderdate AS DATE), '%Y-%m') IN ('1996-03', '1997-07')
        |GROUP BY 1 ORDER BY o_month""".stripMargin,
    // md5 over the file's raw bytes == md5 over the source text's UTF-8
    // encoding; strlen counts UTF-8 bytes — both sides of the fidelity check
    "x_source_binary" ->
      """SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS fname,
        |  CAST(strlen(text) AS BIGINT) AS byte_len,
        |  md5(text) AS content_fp
        |FROM documents WHERE doc_id < 5 ORDER BY fname""".stripMargin,
    "x_source_csv" -> aggSql,
    "x_source_json" -> aggSql,
    "x_source_orc" -> aggSql,
    "x_schema_evolution" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "x_snapshot_read" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1000.0
        |       ELSE o_totalprice END AS o_totalprice,
        |  CAST(CASE WHEN o_orderkey % 3 = 0 THEN 2 ELSE 1 END AS INTEGER) AS version
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "x_compaction" -> aggSql,
    // fixture is self-authored (no source table); the oracle pins the
    // deterministic quarantine split the PERMISSIVE read must produce
    "x_source_corrupt" ->
      """SELECT CAST(3 AS BIGINT) AS n_valid, CAST(2 AS BIGINT) AS n_corrupt,
        |  CAST(round(60.0, 2) AS DOUBLE) AS v_sum""".stripMargin
  )
}
