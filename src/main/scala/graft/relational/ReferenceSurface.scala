package graft.relational

import java.time.{Instant, LocalDate}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.CdcQueries
import graft.ingest.{AuditPipeline, Sinks}
import graft.model.{Audit, IngestionRun, Tables, TypeMapping}
import graft.sources.ControlFile

/** Query keys for the reference-derived operator surface (SURVEY.md §2A)
  * that is not already covered by `CdcQueries`: scans, sinks, DDL synthesis,
  * filters, the catalog join, counts, and datetime scalars.
  */
object ReferenceSurface {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1: full-table scan (reference reads whole tables over single-partition
    // JDBC, spark_ingest_slmandicprd.py:56-63; here a splittable parquet scan).
    "scan_table" -> ((s, dir) => Tables.nation(s, dir).orderBy("n_nationkey")),

    // S3+P1+P2: catalog scan with projection + equality-ish filter pushed into
    // the plan (reference inlines them into a JDBC subquery,
    // verifica_carga_slmandicprd.py:56-62).
    "catalog_scan" -> ((s, dir) =>
      CdcQueries.catalog(s, dir)
        .where(col("table_name") =!= "error")
        .select("table_name", "update_time")
        .orderBy("table_name")),

    // P2: equality predicate filter.
    "filter_eq" -> ((s, dir) =>
      Tables.orders(s, dir)
        .where(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")),

    // P3: range predicate on event time — the reference's 30-day
    // _PARTITIONTIME pruning filter (verifica_carga_slmandicprd.py:74-79);
    // on a date-partitioned lake layout this predicate prunes partitions.
    "filter_time_range" -> ((s, dir) =>
      Tables.events(s, dir)
        .where(col("ts") >= to_timestamp(lit("2024-01-24 00:00:00")))
        .select(col("event_id"), col("event_type"),
          date_trunc("second", col("ts")).as("ts_s"))
        .orderBy("event_id")),

    // J1: catalog-style inner equi join (sys.tables ⋈ sys.schemas,
    // verifica_carga_TOTVSAUDIT.py:54-62) — small dim ⇒ broadcast-hash.
    "join_inner" -> ((s, dir) =>
      Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"), "inner")
        .select("n_nationkey", "n_name", "r_name")
        .orderBy("n_nationkey")),

    // A2: full-table count (spark_ingest_slmandicprd.py:108).
    "agg_count" -> ((s, dir) =>
      Tables.lineitem(s, dir).agg(count(lit(1)).as("row_count"))),

    // F1: deterministic datetime scalars (reference uses CURRENT_TIMESTAMP /
    // TIMESTAMP_SUB; fixed anchors here so both engines agree).
    "fn_datetime" -> ((s, dir) =>
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        quarter(col("o_orderdate")).as("o_quarter"),
        dayofweek(col("o_orderdate")).as("o_dow"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        date_add(col("o_orderdate"), 30).as("ship_by"),
        datediff(col("o_orderdate"), to_date(lit("1995-01-01"))).as("days_since"))
        .orderBy("o_orderkey")),

    // S5: in-memory source with explicit schema — the audit row
    // (spark_ingest_slmandicprd.py:114-132) as a typed Dataset.
    "audit_row" -> ((s, _) =>
      Audit.toDF(s, Seq(IngestionRun("wp_posts", "slmandicprd", 1500L,
        LocalDate.parse("2024-01-15"), Instant.parse("2024-01-15T12:00:00Z"))))),

    // K3+F3+F4: DDL synthesis from an inferred schema
    // (spark_ingest_slmandicprd.py:83-97).
    "ddl_from_schema" -> ((s, dir) =>
      TypeMapping.ddlAsDataFrame(Tables.lineitem(s, dir)).orderBy("ordinal")),

    // S6+O8: changed-tables control-file JSON round-trip
    // (verifica_carga_slmandicprd.py:102-111 / ingest_slmandicprd.py:28-51).
    "control_roundtrip" -> ((s, dir) => {
      val changed = graft.cdc.ChangeDetection.changedTables(
        CdcQueries.catalog(s, dir), CdcQueries.history(s, dir))
      val path = Sinks.tempDir("control")
      ControlFile.write(changed, path)
      ControlFile.read(s, path).orderBy("table_name")
    }),

    // K1: overwrite sink — second write fully replaces the first
    // (spark_ingest_slmandicprd.py:99-103).
    "sink_overwrite" -> ((s, dir) => {
      val path = Sinks.tempDir("overwrite")
      val orders = Tables.orders(s, dir)
      Sinks.overwrite(orders.where(col("o_orderstatus") === "F"), path)
      Sinks.overwrite(orders.where(col("o_orderstatus") === "O"), path)
      Sinks.read(s, path).agg(
        count(lit(1)).as("row_count"),
        round(sum(col("o_totalprice")), 2).as("total_price"))
    }),

    // K2: append sink — two appends accumulate (spark_ingest_slmandicprd.py:137-141).
    "sink_append" -> ((s, dir) => {
      val path = Sinks.tempDir("append")
      val nation = Tables.nation(s, dir)
      Sinks.append(nation, path)
      Sinks.append(nation, path)
      Sinks.read(s, path).groupBy("n_regionkey")
        .agg(count(lit(1)).as("n")).orderBy("n_regionkey")
    }),

    // O6 composite: detect → ingest → audit-append → re-check (SURVEY §3 E1-E3).
    "audit_pipeline" -> ((s, dir) => AuditPipeline.run(s, dir)._1),

    // K1 at scale: date-partitioned lake layout — the write side of P3's
    // partition pruning (the reference's _PARTITIONTIME filter maps to a
    // partitionBy("event_date") directory layout; EngineSpec asserts the
    // date predicate prunes to one partition).
    "sink_partitioned" -> ((s, dir) => {
      val path = Sinks.tempDir("partitioned")
      Tables.events(s, dir)
        .withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_date").parquet(path)
      graft.sources.ParquetDirect.read(s, path)
        .where(col("event_date") === lit("2024-01-15").cast("date"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("event_type")
    })
  )

  private val catalogSql =
    """SELECT event_type AS table_name, CAST(date_trunc('second', max(ts)) AS TIMESTAMP) AS update_time
      |FROM events GROUP BY event_type""".stripMargin
  private val historySql =
    """SELECT event_type AS table_name, CAST(date_trunc('second', ts) AS TIMESTAMP) AS execution_time
      |FROM events WHERE user_id % 2 = 0 AND event_type <> 'click'""".stripMargin
  private val changedSql =
    s"""WITH catalog AS ($catalogSql), history AS ($historySql)
       |SELECT c.table_name, c.update_time
       |FROM catalog c LEFT JOIN
       |  (SELECT table_name, max(execution_time) AS last_exec FROM history GROUP BY table_name) h
       |  USING (table_name)
       |WHERE h.last_exec IS NULL OR (c.update_time IS NOT NULL AND c.update_time > h.last_exec)""".stripMargin

  val oracles: Map[String, String] = Map(
    "scan_table" -> "SELECT * FROM nation ORDER BY n_nationkey",
    "catalog_scan" ->
      s"""SELECT table_name, update_time FROM ($catalogSql)
         |WHERE table_name <> 'error' ORDER BY table_name""".stripMargin,
    "filter_eq" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F' ORDER BY o_orderkey""".stripMargin,
    "filter_time_range" ->
      """SELECT event_id, event_type, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s FROM events
        |WHERE ts >= TIMESTAMP '2024-01-24 00:00:00' ORDER BY event_id""".stripMargin,
    "join_inner" ->
      """SELECT n_nationkey, n_name, r_name FROM nation
        |JOIN region ON n_regionkey = r_regionkey ORDER BY n_nationkey""".stripMargin,
    "agg_count" -> "SELECT count(*) AS row_count FROM lineitem",
    "fn_datetime" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(month(o_orderdate) AS INTEGER) AS o_month,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS o_quarter,
        |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS o_dow,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(o_orderdate AS DATE) + 30 AS ship_by,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "audit_row" ->
      """SELECT 'wp_posts' AS table_name, 'slmandicprd' AS name_dataBase,
        |  CAST(1500 AS BIGINT) AS row_count,
        |  DATE '2024-01-15' AS execution_date,
        |  TIMESTAMP '2024-01-15 12:00:00' AS execution_time""".stripMargin,
    "ddl_from_schema" ->
      """SELECT * FROM (VALUES
        |  ('l_orderkey','INT64',1), ('l_partkey','INT64',2), ('l_suppkey','INT64',3),
        |  ('l_linenumber','INT64',4), ('l_quantity','FLOAT64',5),
        |  ('l_extendedprice','FLOAT64',6), ('l_discount','FLOAT64',7),
        |  ('l_tax','FLOAT64',8), ('l_returnflag','STRING',9),
        |  ('l_linestatus','STRING',10), ('l_shipdate','TIMESTAMP',11)
        |) t(column_name, ddl_type, ordinal) ORDER BY ordinal""".stripMargin,
    "control_roundtrip" ->
      s"""SELECT table_name FROM ($changedSql) ORDER BY table_name""".stripMargin,
    "sink_overwrite" ->
      """SELECT count(*) AS row_count, round(sum(o_totalprice), 2) AS total_price
        |FROM orders WHERE o_orderstatus = 'O'""".stripMargin,
    "sink_append" ->
      """SELECT n_regionkey, CAST(count(*) * 2 AS BIGINT) AS n
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "sink_partitioned" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "audit_pipeline" ->
      s"""WITH changed AS ($changedSql),
         |counts AS (
         |  SELECT event_type AS table_name, count(*) AS row_count FROM events
         |  WHERE event_type IN (SELECT table_name FROM changed) GROUP BY event_type)
         |SELECT c.table_name, 'events_db' AS name_dataBase, c.row_count,
         |  CAST(ch.update_time AS DATE) AS execution_date,
         |  ch.update_time AS execution_time
         |FROM counts c JOIN changed ch USING (table_name)
         |ORDER BY c.table_name""".stripMargin
  )
}
