package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.ingest.Sinks
import graft.sources.{DeltaLite, IcebergLite}

/** X268: the `graft` TableCatalog — SQL front door for DeltaLite and
  * IcebergLite tables. Pins (a) SQL answers equal the format reader's,
  * (b) `VERSION AS OF` time travel, (c) the physical plan below the
  * catalog is Spark's stock parquet BatchScan with working filter
  * pushdown (the catalog adds planning, never a data path), (d) the
  * stated-subset refusals are loud and name the remedy. */
class GraftCatalogSpec extends SparkSpec with Matchers {

  private val cat = "graftcat"
  private lazy val warehouse: String = {
    val w = Sinks.tempDir("catalog_wh")
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    w
  }

  private def scans(p: SparkPlan): Seq[BatchScanExec] = p.collect {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case b: BatchScanExec => Seq(b)
  }.flatten

  test("delta: SQL read, time travel, parquet BatchScan with pushdown") {
    import spark.implicits._
    val t = s"$warehouse/db/dsql"
    DeltaLite.write(spark, (1L to 8L).map(k => (k, k * 10L)).toDF("k", "v"),
      t, collectStats = true)
    DeltaLite.write(spark, Seq((9L, 90L)).toDF("k", "v"), t)
    // current version = both commits
    spark.sql(s"SELECT sum(v) AS s FROM $cat.db.dsql")
      .as[Long].collect() shouldBe Seq(450L)
    // VERSION AS OF 0 = first commit only
    spark.sql(s"SELECT count(*) AS n FROM $cat.db.dsql VERSION AS OF 0")
      .as[Long].collect() shouldBe Seq(8L)
    // SQL answer == format reader's answer after row-level DML
    DeltaLite.deleteWhere(spark, t, "k", 3L, 5L)
    val viaSql = spark.sql(s"SELECT k, v FROM $cat.db.dsql ORDER BY k")
      .as[(Long, Long)].collect()
    val viaApi = DeltaLite.read(spark, t).orderBy("k")
      .as[(Long, Long)].collect()
    viaSql shouldBe viaApi
    viaSql.map(_._1) shouldBe Seq(1L, 2L, 6L, 7L, 8L, 9L)
    // plan shape: a stock parquet BatchScan, filter pushed to the scan
    val q = spark.sql(s"SELECT v FROM $cat.db.dsql WHERE k = 7")
    q.as[Long].collect() shouldBe Seq(70L)
    val scan = scans(q.queryExecution.executedPlan).headOption
      .getOrElse(fail("no BatchScanExec under the catalog"))
    val desc = scan.scan.description()
    desc should include("Parquet")
    desc should include("PushedFilters")
    (desc should include).regex("PushedFilters: \\[.*EqualTo\\(k,7\\)")
    scan.scan.readSchema().fieldNames.toSeq shouldBe Seq("k", "v")
  }

  test("delta: TIMESTAMP AS OF resolves through in-commit timestamps; pre-ICT and Iceberg refuse") {
    import spark.implicits._
    val t = s"$warehouse/db/dtts"
    DeltaLite.write(spark, (1L to 4L).map(k => (k, k)).toDF("k", "v"), t) // v0
    // no stamps yet: refuse with the remedy, never fall back to mtimes
    val e0 = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.db.dtts " +
        "TIMESTAMP AS OF timestamp_millis(1700000000000)").collect()
    }
    e0.getMessage should include("in-commit timestamps")
    DeltaLite.enableInCommitTimestamps(spark, t,
      now = 1700000000000L)                                              // v1
    DeltaLite.write(spark, Seq((9L, 9L)).toDF("k", "v"), t)              // v2
    val ict2 = DeltaLite.ictLedger(spark, t).last._2
    // at the enablement stamp: v1 state (4 rows); at/after v2's: 5 rows
    spark.sql(s"SELECT count(*) AS n FROM $cat.db.dtts " +
        "TIMESTAMP AS OF timestamp_millis(1700000000000)")
      .as[Long].collect() shouldBe Seq(4L)
    spark.sql(s"SELECT count(*) AS n FROM $cat.db.dtts " +
        s"TIMESTAMP AS OF timestamp_millis($ict2)")
      .as[Long].collect() shouldBe Seq(5L)
    // below the first stamp refuses
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.db.dtts " +
        "TIMESTAMP AS OF timestamp_millis(1699999999999)").collect()
    }
    e1.getMessage should include("precedes the first retained")
    // Iceberg, stampless: refuse and name the remedy
    val it = s"$warehouse/db/itts"
    IcebergLite.write(spark, Seq((1L, 1L)).toDF("k", "v"), it)
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.db.itts " +
        "TIMESTAMP AS OF timestamp_millis(1700000000000)").collect()
    }
    e2.getMessage should include("VERSION AS OF")
    // Iceberg, STAMPED: snapshots carry their own timestamp-ms axis and
    // TIMESTAMP AS OF resolves through it
    val it2 = s"$warehouse/db/itts2"
    IcebergLite.write(spark, Seq((1L, 1L)).toDF("k", "v"), it2,
      timestampMs = 1700000000000L) // snap 1
    IcebergLite.write(spark, Seq((2L, 2L)).toDF("k", "v"), it2,
      timestampMs = 1700000100000L) // snap 2
    spark.sql(s"SELECT count(*) FROM $cat.db.itts2 " +
        "TIMESTAMP AS OF timestamp_millis(1700000050000)")
      .as[Long].head() shouldBe 1L
    spark.sql(s"SELECT count(*) FROM $cat.db.itts2 " +
        "TIMESTAMP AS OF timestamp_millis(1700000100000)")
      .as[Long].head() shouldBe 2L
    val e3 = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.db.itts2 " +
        "TIMESTAMP AS OF timestamp_millis(1699999999999)").collect()
    }
    e3.getMessage should include("precedes the first stamped")
  }

  test("iceberg: SQL read, snapshot time travel, schema-at-snapshot") {
    import spark.implicits._
    val t = s"$warehouse/db/isql"
    IcebergLite.write(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), t)
    IcebergLite.write(spark, Seq((3L, "c")).toDF("k", "s"), t)
    spark.sql(s"SELECT count(*) AS n FROM $cat.db.isql")
      .as[Long].collect() shouldBe Seq(3L)
    // VERSION AS OF <snapshot id> — snapshot 1 predates the second append
    spark.sql(s"SELECT k FROM $cat.db.isql VERSION AS OF 1 ORDER BY k")
      .as[Long].collect() shouldBe Seq(1L, 2L)
    spark.sql(s"SELECT s FROM $cat.db.isql WHERE k = 3")
      .as[String].collect() shouldBe Seq("c")
  }

  test("partitioned delta: staging dirs never leak a partition column") {
    import spark.implicits._
    val t = s"$warehouse/db/dpart"
    DeltaLite.writePartitioned(spark,
      Seq((1L, "x"), (2L, "y"), (3L, "x")).toDF("k", "src"), t, "src")
    val df = spark.sql(s"SELECT * FROM $cat.db.dpart")
    df.schema.fieldNames.toSeq shouldBe Seq("k", "src")
    df.orderBy("k").as[(Long, String)].collect() shouldBe
      Seq((1L, "x"), (2L, "y"), (3L, "x"))
  }

  test("merge-on-read state serves through SQL uncompacted, and stays right after compaction") {
    import spark.implicits._
    // Delta deletion vectors: SQL answers WITHOUT compacting — the
    // catalog routes the snapshot through DeltaLite.read's mask-filtered
    // plan (X276); a plain parquet scan would say 6
    val td = s"$warehouse/db/ddv"
    DeltaLite.write(spark, (1L to 6L).map(k => (k, k)).toDF("k", "v"), td)
    DeltaLite.deleteWhereDV(spark, td, "k", 2L, 3L)
    spark.sql(s"SELECT count(*) AS n FROM $cat.db.ddv")
      .as[Long].collect() shouldBe Seq(4L)
    spark.sql(s"SELECT k FROM $cat.db.ddv WHERE v >= 4 ORDER BY k")
      .as[Long].collect() shouldBe Seq(4L, 5L, 6L)
    // after compaction the stock parquet path takes over, same answer
    DeltaLite.optimize(spark, td, targetFiles = 1)
    spark.sql(s"SELECT count(*) AS n FROM $cat.db.ddv")
      .as[Long].collect() shouldBe Seq(4L)
    // Iceberg position deletes: same contract
    val ti = s"$warehouse/db/idel"
    IcebergLite.write(spark, (1L to 6L).map(k => (k, k)).toDF("k", "v"), ti)
    IcebergLite.deleteWhere(spark, ti, "k", 1L, 2L)
    spark.sql(s"SELECT count(*) AS n FROM $cat.db.idel")
      .as[Long].collect() shouldBe Seq(4L)
    spark.sql(s"SELECT sum(v) AS s FROM $cat.db.idel")
      .as[Long].collect() shouldBe Seq(18L)
    IcebergLite.rewriteDataFiles(spark, ti)
    spark.sql(s"SELECT count(*) AS n FROM $cat.db.idel")
      .as[Long].collect() shouldBe Seq(4L)
  }

  test("SQL write path: CREATE TABLE + INSERT INTO + INSERT OVERWRITE commit through the format arbiters") {
    import spark.implicits._
    // Delta: CREATE (v0 metadata-only) → INSERT (v1) → INSERT (v2) →
    // OVERWRITE (v3); SQL and API reads agree at every coordinate
    spark.sql(s"CREATE TABLE $cat.db.wsql (k BIGINT, v BIGINT) USING delta")
    spark.sql(s"SELECT count(*) AS n FROM $cat.db.wsql")
      .as[Long].head() shouldBe 0L
    spark.sql(s"INSERT INTO $cat.db.wsql VALUES (1, 10), (2, 20)")
    spark.sql(s"INSERT INTO $cat.db.wsql SELECT k + 2, v + 20 FROM $cat.db.wsql")
    spark.sql(s"SELECT sum(v) AS s FROM $cat.db.wsql")
      .as[Long].head() shouldBe 100L
    DeltaLite.latestVersion(spark, s"$warehouse/db/wsql") shouldBe 2L
    DeltaLite.read(spark, s"$warehouse/db/wsql").count() shouldBe 4L
    spark.sql(s"INSERT OVERWRITE $cat.db.wsql VALUES (9, 90)")
    spark.sql(s"SELECT k, v FROM $cat.db.wsql")
      .as[(Long, Long)].collect() shouldBe Seq((9L, 90L))
    // the overwrite is one versioned commit; time travel still serves v2
    spark.sql(s"SELECT count(*) FROM $cat.db.wsql VERSION AS OF 2")
      .as[Long].head() shouldBe 4L
    // API write lands on the same log, visible to SQL immediately
    DeltaLite.write(spark, Seq((7L, 70L)).toDF("k", "v"),
      s"$warehouse/db/wsql")
    spark.sql(s"SELECT count(*) FROM $cat.db.wsql")
      .as[Long].head() shouldBe 2L
    // Iceberg: same lifecycle through the other format's arbiter
    spark.sql(s"CREATE TABLE $cat.db.wice (k BIGINT, v BIGINT) USING iceberg")
    spark.sql(s"SELECT count(*) AS n FROM $cat.db.wice")
      .as[Long].head() shouldBe 0L
    spark.sql(s"INSERT INTO $cat.db.wice VALUES (1, 10), (2, 20)")
    spark.sql(s"INSERT OVERWRITE $cat.db.wice VALUES (5, 50)")
    spark.sql(s"SELECT k, v FROM $cat.db.wice")
      .as[(Long, Long)].collect() shouldBe Seq((5L, 50L))
    IcebergLite.read(spark, s"$warehouse/db/wice")
      .as[(Long, Long)].collect() shouldBe Seq((5L, 50L))
    // snapshot 2 (the first INSERT) still serves
    spark.sql(s"SELECT count(*) FROM $cat.db.wice VERSION AS OF 2")
      .as[Long].head() shouldBe 2L
  }

  test("SQL writes keep a partitioned table's layout; CTAS; DROP TABLE") {
    import spark.implicits._
    val wh = warehouse // force catalog registration before the first SQL
    // partitioned Delta: CREATE declares the column; INSERTs go through
    // writePartitioned so every add carries partitionValues
    spark.sql(s"CREATE TABLE $cat.db.wpart (k BIGINT, p STRING) " +
      "USING delta PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $cat.db.wpart VALUES (1, 'a'), (2, 'b'), (3, 'a')")
    spark.sql(s"INSERT INTO $cat.db.wpart VALUES (4, 'b')")
    spark.sql(s"SELECT p, count(*) AS n FROM $cat.db.wpart GROUP BY p ORDER BY p")
      .as[(String, Long)].collect() shouldBe Seq(("a", 2L), ("b", 2L))
    // the partition layer is real: planPartitioned prunes off the log
    val (_, scanned, total) =
      DeltaLite.planPartitioned(spark, s"$wh/db/wpart", "p", Set("a"))
    scanned should be < total
    // STATIC partition overwrite: replaces exactly partition b's files
    // in one commit; partition a is untouched
    spark.sql(s"INSERT OVERWRITE $cat.db.wpart PARTITION (p = 'b') " +
      "VALUES (40)")
    spark.sql(s"SELECT k FROM $cat.db.wpart ORDER BY k")
      .as[Long].collect() shouldBe Seq(1L, 3L, 40L)
    // rows leaking into OTHER partitions under a partition overwrite
    // refuse at the format layer (the SQL path constant-fills the
    // partition column, so only the API can even attempt this)
    val leak = intercept[Exception] {
      DeltaLite.writePartitioned(spark,
        Seq((50L, "z")).toDF("k", "p"), s"$wh/db/wpart", "p",
        replaceValue = Some("b"))
    }
    leak.getMessage should include("never leak")
    // full truncating overwrite of the partitioned table: one commit,
    // partitioned layout preserved
    spark.sql(s"INSERT OVERWRITE $cat.db.wpart VALUES (7, 'c'), (8, 'd')")
    spark.sql(s"SELECT p, count(*) FROM $cat.db.wpart GROUP BY p ORDER BY p")
      .as[(String, Long)].collect() shouldBe Seq(("c", 1L), ("d", 1L))
    val (_, s2, t2) =
      DeltaLite.planPartitioned(spark, s"$wh/db/wpart", "p", Set("c"))
    s2 should be < t2
    // CTAS: createTable + first insert in one statement
    spark.sql(s"CREATE TABLE $cat.db.wctas USING delta AS " +
      s"SELECT k, p FROM $cat.db.wpart WHERE p = 'c'")
    spark.sql(s"SELECT sum(k) AS s FROM $cat.db.wctas")
      .as[Long].head() shouldBe 7L
    // DROP TABLE removes the directory
    spark.sql(s"DROP TABLE $cat.db.wctas")
    spark.sql(s"SHOW TABLES IN $cat.db").select("tableName")
      .as[String].collect() should not contain "wctas"
  }

  test("column-mapped table through SQL: field-id resolution serves logical names across rename + widen") {
    import spark.implicits._
    val t = s"$warehouse/db/cmsql"
    DeltaLite.writeColumnMapped(spark,
      (1L to 4L).map(k => (k, k * 10L)).toDF("k", "v"), t, mode = "id") // v0
    // without the session flag: refuse with the remedy named (unset
    // explicitly — other suites/keys legitimately leave it enabled)
    spark.conf.unset("spark.sql.parquet.fieldId.read.enabled")
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.db.cmsql").collect()
    }
    e.getMessage should include ("fieldId.read.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    try {
      spark.sql(s"SELECT sum(v) AS s FROM $cat.db.cmsql")
        .as[Long].head() shouldBe 100L
      // metadata-only rename is immediately SQL-visible
      DeltaLite.renameColumn(spark, t, "v", "value")                   // v1
      spark.sql(s"SELECT sum(value) FROM $cat.db.cmsql")
        .as[Long].head() shouldBe 100L
      // widening append: pre-widening files surface the new column NULL
      DeltaLite.writeColumnMapped(spark,
        Seq((9L, 90L, "fresh")).toDF("k", "value", "note"), t)         // v2
      spark.sql(s"SELECT count(*) FROM $cat.db.cmsql WHERE note IS NULL")
        .as[Long].head() shouldBe 4L
      spark.sql(s"SELECT k FROM $cat.db.cmsql WHERE note = 'fresh'")
        .as[Long].collect() shouldBe Seq(9L)
      // time travel below the rename answers under the ORIGINAL name
      spark.sql(s"SELECT sum(v) FROM $cat.db.cmsql VERSION AS OF 0")
        .as[Long].head() shouldBe 100L
    } finally spark.conf.unset("spark.sql.parquet.fieldId.read.enabled")
  }

  test("metadata tables through SQL: t.snapshots/files/refs and Delta t.history serve control-plane relations") {
    import spark.implicits._
    val t = s"$warehouse/db/imeta"
    IcebergLite.write(spark, (1L to 6L).map(k => (k, k)).toDF("k", "v"), t)
    IcebergLite.write(spark, Seq((7L, 7L)).toDF("k", "v"), t)
    spark.sql(s"SELECT snapshot_id, operation, is_current " +
        s"FROM $cat.db.imeta.snapshots ORDER BY snapshot_id")
      .as[(Long, String, Boolean)].collect() shouldBe Seq(
      (1L, "append", false), (2L, "append", true))
    spark.sql(s"SELECT sum(record_count) AS n FROM $cat.db.imeta.files")
      .as[Long].head() shouldBe 7L
    spark.sql(s"SELECT count(*) FROM $cat.db.imeta.refs")
      .as[Long].head() shouldBe 1L // main
    // plain SQL composes over it (join the metadata relation to itself)
    spark.sql(s"SELECT count(*) FROM $cat.db.imeta.manifests " +
        "WHERE added_files_count > 0").as[Long].head() should be >= 1L
    // Delta history through the same idiom
    val d = s"$warehouse/db/dmeta"
    DeltaLite.write(spark, Seq((1L, 1L)).toDF("k", "v"), d)
    DeltaLite.write(spark, Seq((2L, 2L)).toDF("k", "v"), d)
    spark.sql(s"SELECT count(*) FROM $cat.db.dmeta.history")
      .as[Long].head() shouldBe 2L
    // unknown kind on a real table and time travel on a metadata table
    an[Exception] should be thrownBy
      spark.sql(s"SELECT * FROM $cat.db.imeta.nonsense").collect()
    an[Exception] should be thrownBy
      spark.sql(s"SELECT * FROM $cat.db.imeta.snapshots VERSION AS OF 1")
        .collect()
  }

  test("catalog inventory: listTables, tableExists, missing table/namespace") {
    import spark.implicits._
    val t = s"$warehouse/inv/one"
    DeltaLite.write(spark, Seq((1L, 1L)).toDF("k", "v"), t)
    spark.sql(s"SHOW TABLES IN $cat.inv").select("tableName")
      .as[String].collect() shouldBe Seq("one")
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.inv.absent").collect()
    }
    // schema/name DDL refuses (evolution goes through the format APIs)
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.inv.one RENAME TO $cat.inv.two")
    }
    e.getMessage should include("commit-through-the-log")
  }

  test("SQL DELETE lowers to the formats' own row-level ops; unsupported shapes refuse at analysis") {
    import spark.implicits._
    // Delta: DELETE = stats-planned copy-on-write rewrite (one commit)
    val td = s"$warehouse/db/sdel"
    DeltaLite.write(spark, (1L to 20L).map(k => (k, k)).toDF("k", "v"), td,
      collectStats = true)
    spark.sql(s"DELETE FROM $cat.db.sdel WHERE k BETWEEN 3 AND 7")
    spark.sql(s"SELECT count(*) FROM $cat.db.sdel").as[Long].head() shouldBe 15L
    DeltaLite.read(spark, td).count() shouldBe 15L
    spark.sql(s"DELETE FROM $cat.db.sdel WHERE k = 10")
    spark.sql(s"DELETE FROM $cat.db.sdel WHERE k >= 18")
    spark.sql(s"SELECT k FROM $cat.db.sdel ORDER BY k").as[Long].collect()
      .toSeq shouldBe Seq(1L, 2L, 8L, 9L, 11L, 12L, 13L, 14L, 15L, 16L, 17L)
    // time travel still reads the pre-delete versions
    spark.sql(s"SELECT count(*) FROM $cat.db.sdel VERSION AS OF 0")
      .as[Long].head() shouldBe 20L
    // Iceberg: DELETE = merge-on-read position deletes; SQL reads keep
    // working UNCOMPACTED through the MOR bridge
    val ti = s"$warehouse/db/sdeli"
    IcebergLite.write(spark, (1L to 20L).map(k => (k, k)).toDF("k", "v"), ti)
    spark.sql(s"DELETE FROM $cat.db.sdeli WHERE k > 2 AND k <= 6")
    spark.sql(s"SELECT count(*) FROM $cat.db.sdeli").as[Long].head() shouldBe 16L
    IcebergLite.snapshotDeleteFiles(spark, ti, -1L) should not be empty
    // shapes the metadata fast path cannot claim FALL BACK to the
    // group-based row-level rewrite (X284) — arbitrary predicates work
    spark.sql(s"DELETE FROM $cat.db.sdel WHERE v = 11 OR k = 2")
    spark.sql(s"SELECT k FROM $cat.db.sdel ORDER BY k").as[Long].collect()
      .toSeq shouldBe Seq(1L, 8L, 9L, 12L, 13L, 14L, 15L, 16L, 17L)
    // bare DELETE empties the table through the same rewrite
    spark.sql(s"DELETE FROM $cat.db.sdel")
    spark.sql(s"SELECT count(*) FROM $cat.db.sdel").as[Long].head() shouldBe 0L
  }

  test("storage-partitioned join: co-bucketed catalog tables join with NO exchange") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val pf = graft.sources.IcebergLite.PartField.bucket("k", 8)
    IcebergLite.write(spark, (1L to 400L).map(k => (k, k * 2)).toDF("k", "v"),
      s"$warehouse/db/spj1", partitionField = Some(pf))
    IcebergLite.write(spark,
      (1L to 400L by 2).map(k => (k, k * 3)).toDF("k", "w"),
      s"$warehouse/db/spj2", partitionField = Some(pf))
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q = spark.sql(
        s"""SELECT a.k, a.v, b.w FROM $cat.db.spj1 a
           |JOIN $cat.db.spj2 b ON a.k = b.k""".stripMargin)
      val rows = q.as[(Long, Long, Long)].collect().sortBy(_._1)
      rows.length shouldBe 200
      rows.head shouldBe ((1L, 2L, 3L))
      rows.last shouldBe ((399L, 798L, 1197L))
      // the whole point: NO shuffle on either side — the scans' reported
      // key-grouped partitioning (same graft.bucket function, same args)
      // satisfies the join's distribution on both sides
      def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = {
        val inner = p.collect {
          case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
          case _: ShuffleExchangeExec => 1
        }
        inner.sum
      }
      shuffles(q.queryExecution.executedPlan) shouldBe 0
      // and the scan really is the key-grouped one (8 groups)
      q.queryExecution.executedPlan.toString should include("key-grouped")
      // flag OFF: same answer through the stock split scan (with shuffles)
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val q2 = spark.sql(
        s"""SELECT count(*) FROM $cat.db.spj1 a
           |JOIN $cat.db.spj2 b ON a.k = b.k""".stripMargin)
      q2.as[Long].head() shouldBe 200L
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("SQL UPDATE / MERGE INTO: group-based copy-on-write, O(touched) files, fallback DELETE") {
    import spark.implicits._
    val wh = warehouse
    val t = s"$wh/db/uptbl"
    // three key-disjoint files with stats
    DeltaLite.write(spark, (1L to 10L).map(k => (k, k)).toDF("k", "v")
      .coalesce(1), t, collectStats = true)
    DeltaLite.write(spark, (11L to 20L).map(k => (k, k)).toDF("k", "v")
      .coalesce(1), t, collectStats = true)
    DeltaLite.write(spark, (21L to 30L).map(k => (k, k)).toDF("k", "v")
      .coalesce(1), t, collectStats = true)
    val before = DeltaLite.snapshotAt(spark, t).files.toSet
    // UPDATE touching only the middle file
    spark.sql(s"UPDATE $cat.db.uptbl SET v = v * 10 WHERE k BETWEEN 12 AND 14")
    val after = DeltaLite.snapshotAt(spark, t).files.toSet
    // runtime group filtering: the two untouched files are CARRIED
    before.intersect(after).size shouldBe 2
    (before -- after).size shouldBe 1
    spark.sql(s"SELECT sum(v) FROM $cat.db.uptbl WHERE k BETWEEN 12 AND 14")
      .as[Long].head() shouldBe (120L + 130L + 140L)
    spark.sql(s"SELECT count(*) FROM $cat.db.uptbl").as[Long].head() shouldBe 30L
    // fallback DELETE: a predicate canDeleteWhere cannot claim (OR over
    // two columns) routes through the row-level rewrite
    spark.sql(s"DELETE FROM $cat.db.uptbl WHERE k = 1 OR v = 130")
    spark.sql(s"SELECT count(*) FROM $cat.db.uptbl").as[Long].head() shouldBe 28L
    // MERGE INTO: update + delete + insert through one SQL statement
    Seq((2L, 222L, "U"), (5L, 0L, "D"), (99L, 99L, "I"))
      .toDF("k", "v", "op").createOrReplaceTempView("mrg_src")
    spark.sql(
      s"""MERGE INTO $cat.db.uptbl t USING mrg_src s ON t.k = s.k
         |WHEN MATCHED AND s.op = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    val got = spark.sql(s"SELECT k, v FROM $cat.db.uptbl " +
      "WHERE k IN (2, 5, 99) ORDER BY k").as[(Long, Long)].collect()
    got shouldBe Seq((2L, 222L), (99L, 99L))
    spark.sql(s"SELECT count(*) FROM $cat.db.uptbl").as[Long].head() shouldBe 28L
    // the API reader agrees — SQL DML landed as ordinary log versions
    DeltaLite.read(spark, t).count() shouldBe 28L
  }

  test("partitioned Delta SQL UPDATE / MERGE / DELETE: rolling write re-declares partitionValues") {
    import spark.implicits._
    val wh = warehouse
    val t = s"$wh/db/puptbl"
    // two partitions, two files each (key-split)
    DeltaLite.writePartitioned(spark,
      (1L to 20L).map(k => (k, k, if (k % 2 == 0) "even" else "odd"))
        .toDF("k", "v", "p").repartition(2), t, "p", collectStats = true)
    val before = DeltaLite.snapshotAt(spark, t).files.toSet
    // UPDATE confined to one partition's rows
    spark.sql(s"UPDATE $cat.db.puptbl SET v = v * 10 WHERE p = 'even'")
    val snap = DeltaLite.snapshotAt(spark, t)
    // untouched-partition files carried (odd files live on)
    before.intersect(snap.files.toSet) should not be empty
    // EVERY live file still declares partitionValues for p — the
    // writePartitioned invariant the rolling write must uphold
    snap.pvals.keySet shouldBe snap.files.toSet
    snap.pvals.values.foreach(_.keySet shouldBe Set("p"))
    // log-only partition pruning keeps working on the rewritten files
    val (evenFiles, _, _) = DeltaLite.planPartitioned(spark, t, "p",
      Set("even"))
    evenFiles should not be empty
    spark.sql(s"SELECT sum(v) FROM $cat.db.puptbl WHERE p = 'even'")
      .as[Long].head() shouldBe (2L to 20L by 2).map(_ * 10).sum
    spark.sql(s"SELECT sum(v) FROM $cat.db.puptbl WHERE p = 'odd'")
      .as[Long].head() shouldBe (1L to 19L by 2).sum
    // UPDATE of the partition column itself: rows MIGRATE partitions
    spark.sql(s"UPDATE $cat.db.puptbl SET p = 'odd' WHERE k = 2")
    spark.sql(s"SELECT count(*) FROM $cat.db.puptbl WHERE p = 'odd'")
      .as[Long].head() shouldBe 11L
    // MERGE: update one row, insert one (lands in its declared partition)
    Seq((3L, 333L, "odd"), (99L, 99L, "even"))
      .toDF("k", "v", "p").createOrReplaceTempView("pmrg_src")
    spark.sql(
      s"""MERGE INTO $cat.db.puptbl t USING pmrg_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v, p = s.p
         |WHEN NOT MATCHED THEN INSERT (k, v, p) VALUES (s.k, s.v, s.p)""".stripMargin)
    spark.sql(s"SELECT v FROM $cat.db.puptbl WHERE k = 3").as[Long]
      .head() shouldBe 333L
    spark.sql(s"SELECT p FROM $cat.db.puptbl WHERE k = 99").as[String]
      .head() shouldBe "even"
    // fallback DELETE across partitions
    spark.sql(s"DELETE FROM $cat.db.puptbl WHERE k = 1 OR k = 99")
    spark.sql(s"SELECT count(*) FROM $cat.db.puptbl").as[Long]
      .head() shouldBe 19L
    // the API writer still accepts partitioned appends after SQL DML
    DeltaLite.writePartitioned(spark,
      Seq((100L, 1L, "even")).toDF("k", "v", "p"), t, "p")
    DeltaLite.read(spark, t).count() shouldBe 20L
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: full three-way merge through the row-level path") {
    import spark.implicits._
    val wh = warehouse
    for (fmt <- Seq("delta", "iceberg")) {
      val tbl = s"nbs_$fmt"
      spark.sql(s"DROP TABLE IF EXISTS $cat.db.$tbl")
      spark.sql(s"CREATE TABLE $cat.db.$tbl (k BIGINT, v BIGINT) USING $fmt")
      spark.sql(s"INSERT INTO $cat.db.$tbl " +
        (1L to 20L).map(k => s"VALUES ($k, $k)").head +
        (2L to 20L).map(k => s", ($k, $k)").mkString)
      Seq((2L, 222L), (15L, 555L), (99L, 999L)).toDF("k", "v")
        .createOrReplaceTempView(s"nbs_src_$fmt")
      // all three match classes in one statement: matched update,
      // not-matched insert, not-matched-BY-SOURCE delete
      spark.sql(
        s"""MERGE INTO $cat.db.$tbl t USING nbs_src_$fmt s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
           |WHEN NOT MATCHED BY SOURCE AND t.k > 18 THEN DELETE""".stripMargin)
      val rows = spark.sql(s"SELECT k, v FROM $cat.db.$tbl ORDER BY k")
        .as[(Long, Long)].collect()
      rows.length shouldBe 19 // 20 - {19,20 deleted} + {99 inserted}
      rows.find(_._1 == 2L).map(_._2) shouldBe Some(222L)
      rows.find(_._1 == 15L).map(_._2) shouldBe Some(555L)
      rows.find(_._1 == 99L).map(_._2) shouldBe Some(999L)
      rows.exists(_._1 == 19L) shouldBe false
    }
  }

  test("Iceberg SQL UPDATE / MERGE INTO: manifest-arbiter copy-on-write, carried manifests") {
    import spark.implicits._
    val wh = warehouse
    val t = s"$wh/db/iuptbl"
    // three key-disjoint files via three append snapshots (1, 2, 3)
    IcebergLite.write(spark, (1L to 10L).map(k => (k, k)).toDF("k", "v")
      .coalesce(1), t)
    IcebergLite.write(spark, (11L to 20L).map(k => (k, k)).toDF("k", "v")
      .coalesce(1), t)
    IcebergLite.write(spark, (21L to 30L).map(k => (k, k)).toDF("k", "v")
      .coalesce(1), t)
    val before = IcebergLite.snapshotFiles(spark, t, -1L).toSet
    // UPDATE touching only the middle file
    spark.sql(s"UPDATE $cat.db.iuptbl SET v = v * 10 WHERE k BETWEEN 12 AND 14")
    val after = IcebergLite.snapshotFiles(spark, t, -1L).toSet
    // runtime group filtering: the two untouched files are CARRIED
    before.intersect(after).size shouldBe 2
    (before -- after).size shouldBe 1
    spark.sql(s"SELECT sum(v) FROM $cat.db.iuptbl WHERE k BETWEEN 12 AND 14")
      .as[Long].head() shouldBe (120L + 130L + 140L)
    spark.sql(s"SELECT count(*) FROM $cat.db.iuptbl").as[Long]
      .head() shouldBe 30L
    // the replaced files stay readable under the PRIOR manifest list
    spark.sql(s"SELECT sum(v) FROM $cat.db.iuptbl VERSION AS OF 3")
      .as[Long].head() shouldBe (1L to 30L).sum
    // fallback DELETE: a predicate canDeleteWhere cannot claim (OR over
    // two columns) routes through the row-level rewrite
    spark.sql(s"DELETE FROM $cat.db.iuptbl WHERE k = 1 OR v = 130")
    spark.sql(s"SELECT count(*) FROM $cat.db.iuptbl").as[Long]
      .head() shouldBe 28L
    // MERGE INTO: update + delete + insert through one SQL statement
    Seq((2L, 222L, "U"), (5L, 0L, "D"), (99L, 99L, "I"))
      .toDF("k", "v", "op").createOrReplaceTempView("imrg_src")
    spark.sql(
      s"""MERGE INTO $cat.db.iuptbl t USING imrg_src s ON t.k = s.k
         |WHEN MATCHED AND s.op = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    spark.sql(s"SELECT k, v FROM $cat.db.iuptbl " +
      "WHERE k IN (2, 5, 99) ORDER BY k").as[(Long, Long)].collect()
      .shouldBe(Seq((2L, 222L), (99L, 99L)))
    spark.sql(s"SELECT count(*) FROM $cat.db.iuptbl").as[Long]
      .head() shouldBe 28L
    // the API reader agrees — SQL DML landed as ordinary snapshots
    IcebergLite.read(spark, t).count() shouldBe 28L
  }

  test("writeStream.toTable: real StreamingWrite executors, exactly-once epoch ledger") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val wh = warehouse // force catalog registration
    for (fmt <- Seq("delta", "iceberg")) {
      val tbl = s"st_$fmt"
      spark.sql(s"DROP TABLE IF EXISTS $cat.db.$tbl")
      spark.sql(s"CREATE TABLE $cat.db.$tbl (k BIGINT, v BIGINT) USING $fmt")
      val src = MemoryStream[(Long, Long)]
      val q = src.toDF().toDF("k", "v")
        .writeStream
        .option("checkpointLocation",
          graft.ingest.Sinks.tempDir(s"sttbl_ckpt_$fmt"))
        .toTable(s"$cat.db.$tbl")
      src.addData((1L, 10L), (2L, 20L))
      q.processAllAvailable()
      src.addData((3L, 30L))
      q.processAllAvailable()
      q.stop()
      // both micro-batches landed as ordinary versioned commits
      spark.sql(s"SELECT k, v FROM $cat.db.$tbl ORDER BY k")
        .as[(Long, Long)].collect() shouldBe
        Seq((1L, 10L), (2L, 20L), (3L, 30L))
      val path = s"$wh/db/$tbl"
      if (fmt == "delta") {
        // epoch redelivery no-ops on the SetTransaction ledger — under
        // the QUERY'S OWN appId (the ledger is per-query now); the
        // committed txn row tells us the id the stream used
        val before = DeltaLite.latestVersion(spark, path)
        val appId = DeltaLite.snapshotAt(spark, path).txns.keys
          .find(_.startsWith(DeltaLite.TxnAppId))
          .getOrElse(fail("no stream txn ledger row"))
        DeltaLite.commitStreamFiles(spark, path, Nil, epochId = 1L,
          appId = appId)
        DeltaLite.latestVersion(spark, path) shouldBe before
        // the API reader agrees, and time travel sees epoch boundaries
        DeltaLite.read(spark, path).count() shouldBe 3L
        DeltaLite.read(spark, path, versionAsOf = before - 1)
          .count() shouldBe 2L
      } else {
        val before = IcebergLite.latestMetadataVersion(spark, path)
        // an empty redelivered epoch no-ops regardless of ledger (no
        // files), and a replay under the query's ledger no-ops too
        IcebergLite.commitStreamFiles(spark, path, Nil, epochId = 1L)
        IcebergLite.latestMetadataVersion(spark, path) shouldBe before
        IcebergLite.read(spark, path).count() shouldBe 3L
      }
    }
  }

  test("ALTER TABLE: metadata-only ADD COLUMNS on both formats, RENAME/DROP via column mapping") {
    import spark.implicits._
    val wh = warehouse
    for (fmt <- Seq("delta", "iceberg")) {
      val tbl = s"alt_$fmt"
      val path = s"$wh/db/$tbl"
      spark.sql(s"DROP TABLE IF EXISTS $cat.db.$tbl")
      spark.sql(s"CREATE TABLE $cat.db.$tbl (k BIGINT, v BIGINT) USING $fmt")
      spark.sql(s"INSERT INTO $cat.db.$tbl VALUES (1, 10), (2, 20)")
      def files(): Set[String] =
        if (fmt == "delta") DeltaLite.snapshotAt(spark, path).files.toSet
        else IcebergLite.snapshotFiles(spark, path, -1L).toSet
      val before = files()
      spark.sql(s"ALTER TABLE $cat.db.$tbl ADD COLUMNS (w BIGINT)")
      files() shouldBe before // metadata-only: not a byte moved
      // pre-evolution rows surface w as NULL; the widened insert lands
      spark.sql(s"INSERT INTO $cat.db.$tbl VALUES (3, 30, 300)")
      spark.sql(s"SELECT k, v, w FROM $cat.db.$tbl ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))) shouldBe
        Seq((1L, 10L, -1L), (2L, 20L, -1L), (3L, 30L, 300L))
    }
    // RENAME/DROP land through Delta column mapping; unmapped refuses
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    DeltaLite.writeColumnMapped(spark, Seq((1L, 10L)).toDF("k", "v"),
      s"$wh/db/alt_cm")
    spark.sql(s"ALTER TABLE $cat.db.alt_cm RENAME COLUMN v TO v2")
    spark.sql(s"SELECT v2 FROM $cat.db.alt_cm").as[Long].head() shouldBe 10L
    spark.sql(s"ALTER TABLE $cat.db.alt_cm DROP COLUMN v2")
    spark.sql(s"SELECT * FROM $cat.db.alt_cm").columns shouldBe Array("k")
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.alt_delta RENAME COLUMN v TO x")
    }
    e.getMessage should include("column mapping")
    // a NOT NULL add refuses loudly — silently landing it nullable would
    // drop a declared constraint without error
    val e2 = intercept[Exception] {
      spark.sql(
        s"ALTER TABLE $cat.db.alt_delta ADD COLUMNS (nn BIGINT NOT NULL)")
    }
    e2.getMessage should include("NULLABLE")
  }

  test("Iceberg ALTER RENAME/DROP COLUMN: metadata-only, id-resolved reads, no id reuse (X308)") {
    import spark.implicits._
    val wh = warehouse
    val tbl = "alt_ice_rn"
    val path = s"$wh/db/$tbl"
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.$tbl")
    spark.sql(s"CREATE TABLE $cat.db.$tbl (k BIGINT, v BIGINT) USING iceberg")
    spark.sql(s"INSERT INTO $cat.db.$tbl VALUES (1, 10), (2, 20)")
    val snap1 = IcebergLite.currentSnapshotId(spark, path)
    val before = IcebergLite.snapshotFiles(spark, path, -1L).toSet
    // RENAME: a new schema-id, same field id — not a byte moved
    spark.sql(s"ALTER TABLE $cat.db.$tbl RENAME COLUMN v TO price")
    IcebergLite.snapshotFiles(spark, path, -1L).toSet shouldBe before
    // pre-rename files serve under the NEW name (id-resolved read)
    spark.sql(s"SELECT k, price FROM $cat.db.$tbl ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))) shouldBe
      Seq((1L, 10L), (2L, 20L))
    // widened append under the new name mixes epochs in one table
    spark.sql(s"INSERT INTO $cat.db.$tbl VALUES (3, 30)")
    spark.sql(s"SELECT sum(price) FROM $cat.db.$tbl").as[Long].head() shouldBe 60L
    // time travel BELOW the rename answers under the ORIGINAL name
    val tt = spark.sql(
      s"SELECT k, v FROM $cat.db.$tbl VERSION AS OF $snap1 ORDER BY k")
    tt.collect().map(r => (r.getLong(0), r.getLong(1))) shouldBe
      Seq((1L, 10L), (2L, 20L))
    // DML on a drifted table refuses with the remedy; compaction
    // restages under current names and clears the drift
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $cat.db.$tbl SET price = price + 1 WHERE k = 1")
    }
    e.getMessage should include("rewriteDataFiles")
    IcebergLite.rewriteDataFiles(spark, path)
    spark.sql(s"UPDATE $cat.db.$tbl SET price = price + 1 WHERE k = 1")
    spark.sql(s"SELECT sum(price) FROM $cat.db.$tbl").as[Long].head() shouldBe 61L
    // DROP: metadata-only; the field id is NEVER reused — a re-added
    // name is a NEW field, so surviving files surface NULL instead of
    // resurrecting the dropped column's values
    val beforeDrop = IcebergLite.snapshotFiles(spark, path, -1L).toSet
    spark.sql(s"ALTER TABLE $cat.db.$tbl DROP COLUMN price")
    IcebergLite.snapshotFiles(spark, path, -1L).toSet shouldBe beforeDrop
    spark.sql(s"SELECT * FROM $cat.db.$tbl").columns shouldBe Array("k")
    spark.sql(s"ALTER TABLE $cat.db.$tbl ADD COLUMNS (price BIGINT)")
    spark.sql(s"SELECT k, price FROM $cat.db.$tbl ORDER BY k").collect()
      .map(r => (r.getLong(0), r.isNullAt(1))) shouldBe
      Seq((1L, true), (2L, true), (3L, true))
    // stats written pre-rename keep pruning: manifest stats key by id
    spark.sql(s"INSERT INTO $cat.db.$tbl VALUES (4, 400)")
    spark.sql(s"SELECT count(*) FROM $cat.db.$tbl WHERE price = 400")
      .as[Long].head() shouldBe 1L
  }

  test("readStream.table survives ALTER + append: Iceberg snapshot ids are gap-tolerant") {
    import spark.implicits._
    val wh = warehouse
    val tbl = "srd_gap"
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.$tbl")
    spark.sql(s"CREATE TABLE $cat.db.$tbl (k BIGINT, v BIGINT) USING iceberg")
    spark.sql(s"INSERT INTO $cat.db.$tbl VALUES (1, 10), (2, 20)")
    val ckpt = graft.ingest.Sinks.tempDir("srd_gap_ckpt")
    def drain(): Long = {
      val n = new java.util.concurrent.atomic.AtomicLong(0)
      val q = spark.readStream.table(s"$cat.db.$tbl")
        .writeStream
        .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
          n.addAndGet(df.count()); ()
        })
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      n.get()
    }
    drain() shouldBe 2L
    // a METADATA-ONLY commit (ALTER) consumes a metadata version without
    // a snapshot, leaving a gap in the id axis; the next append's id
    // skips it. Before the fix the checkpointed stream wedged here with
    // IllegalArgumentException on the missing snapshot id.
    spark.sql(s"ALTER TABLE $cat.db.$tbl ADD COLUMNS (w BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.$tbl VALUES (3, 30, 300)")
    drain() shouldBe 1L
    // a second ALTER with NO trailing append is also just an empty unit
    spark.sql(s"ALTER TABLE $cat.db.$tbl ADD COLUMNS (x BIGINT)")
    drain() shouldBe 0L
  }

  test("writeStream.toTable ledgers are PER QUERY: two queries' epochs never dedup each other") {
    import spark.implicits._
    val wh = warehouse
    for (fmt <- Seq("delta", "iceberg")) {
      spark.sql(s"DROP TABLE IF EXISTS $cat.db.led_dst_$fmt")
      spark.sql(
        s"CREATE TABLE $cat.db.led_dst_$fmt (k BIGINT) USING $fmt")
      // two INDEPENDENT checkpointed queries write the same table; both
      // start at epoch 0. A shared (global-constant) ledger would make
      // the second query's epoch 0 look like a redelivery and silently
      // drop its rows.
      for (src <- Seq("a", "b")) {
        val st = s"led_src_${fmt}_$src"
        spark.sql(s"DROP TABLE IF EXISTS $cat.db.$st")
        spark.sql(s"CREATE TABLE $cat.db.$st (k BIGINT) USING delta")
        spark.sql(s"INSERT INTO $cat.db.$st VALUES " +
          (if (src == "a") "(1), (2)" else "(3)"))
        val q = spark.readStream.table(s"$cat.db.$st")
          .writeStream
          .option("checkpointLocation",
            graft.ingest.Sinks.tempDir(s"led_ckpt_${fmt}_$src"))
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(s"$cat.db.led_dst_$fmt")
        q.awaitTermination()
      }
      spark.sql(s"SELECT k FROM $cat.db.led_dst_$fmt ORDER BY k")
        .as[Long].collect() shouldBe Seq(1L, 2L, 3L)
      // a FRESH checkpoint is a NEW query id: its epoch 0 must land even
      // though another query already committed an epoch 0 on this table
      // (same-query redelivery no-op is pinned by the ETL test above)
      val q2 = spark.readStream.table(s"$cat.db.led_src_${fmt}_b")
        .writeStream
        .option("checkpointLocation",
          graft.ingest.Sinks.tempDir(s"led_ckpt_${fmt}_b2"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"$cat.db.led_dst_$fmt")
      q2.awaitTermination()
      // 3 appears twice now: same data, different query
      spark.sql(s"SELECT count(*) FROM $cat.db.led_dst_$fmt")
        .as[Long].head() shouldBe 4L
    }
  }

  test("Iceberg identity partitioning: SQL create, manifest pruning, static partition overwrite") {
    import spark.implicits._
    val wh = warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.ice_id")
    spark.sql(s"CREATE TABLE $cat.db.ice_id (k BIGINT, v DOUBLE, p STRING) " +
      "USING iceberg PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $cat.db.ice_id VALUES " +
      "(1, 1.0, 'a'), (2, 2.0, 'b'), (3, 3.0, 'a')")
    val t = s"$wh/db/ice_id"
    // identity values prune off the manifests alone
    val (_, na, total) = IcebergLite.planPartitioned(spark, t, Set("a"))
    na should be < total
    val bBefore = IcebergLite.planPartitioned(spark, t, Set("b"))._1.toSet
    // static partition overwrite replaces exactly partition 'a'
    spark.sql(s"INSERT OVERWRITE $cat.db.ice_id PARTITION (p = 'a') " +
      "VALUES (10, 10.0)")
    spark.sql(s"SELECT k, v, p FROM $cat.db.ice_id ORDER BY k")
      .as[(Long, Double, String)].collect() shouldBe
      Seq((2L, 2.0, "b"), (10L, 10.0, "a"))
    // sibling partition's files carried byte-identical
    IcebergLite.planPartitioned(spark, t, Set("b"))._1.toSet shouldBe bBefore
    // prior snapshot still time-travels over the replaced files
    spark.sql(s"SELECT count(*) FROM $cat.db.ice_id VERSION AS OF 2")
      .as[Long].head() shouldBe 3L
    // leaking rows refuse (API surface: the SQL static form cannot leak)
    val e = intercept[Exception] {
      IcebergLite.replacePartition(spark,
        Seq((9L, 9.0, "b")).toDF("k", "v", "p"), t, "a")
    }
    e.getMessage should include("refuse")
  }

  test("identity-partitioned Iceberg SQL UPDATE / MERGE: rolling write carries manifest p0") {
    import spark.implicits._
    val wh = warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.ice_pup")
    spark.sql(s"CREATE TABLE $cat.db.ice_pup (k BIGINT, v BIGINT, p STRING) " +
      "USING iceberg PARTITIONED BY (p)")
    (1L to 20L).map(k => (k, k, if (k % 2 == 0) "even" else "odd"))
      .toDF("k", "v", "p").createOrReplaceTempView("ipup_src")
    spark.sql(s"INSERT INTO $cat.db.ice_pup SELECT * FROM ipup_src")
    val t = s"$wh/db/ice_pup"
    val before = IcebergLite.snapshotFiles(spark, t, -1L).toSet
    val oddBefore = IcebergLite.planPartitioned(spark, t, Set("odd"))._1.toSet
    spark.sql(s"UPDATE $cat.db.ice_pup SET v = v * 10 WHERE p = 'even'")
    val after = IcebergLite.snapshotFiles(spark, t, -1L).toSet
    // the odd partition's file carried; the even one replaced
    before.intersect(after) shouldBe oddBefore
    (before -- after) should not be empty
    // the replacement files carry their manifest p0: partition pruning
    // still plans correctly on both sides
    IcebergLite.planPartitioned(spark, t, Set("odd"))._1.toSet shouldBe oddBefore
    val evenAfter = IcebergLite.planPartitioned(spark, t, Set("even"))._1.toSet
    evenAfter.intersect(oddBefore) shouldBe empty
    evenAfter should not be empty
    spark.sql(s"SELECT sum(v) FROM $cat.db.ice_pup WHERE p = 'even'")
      .as[Long].head() shouldBe (2L to 20L by 2).map(_ * 10).sum
    spark.sql(s"SELECT sum(v) FROM $cat.db.ice_pup WHERE p = 'odd'")
      .as[Long].head() shouldBe (1L to 19L by 2).sum
    // MERGE: update across partitions + insert landing in its partition
    Seq((3L, 333L, "odd"), (99L, 99L, "even"))
      .toDF("k", "v", "p").createOrReplaceTempView("ipmrg_src")
    spark.sql(
      s"""MERGE INTO $cat.db.ice_pup t USING ipmrg_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v, p) VALUES (s.k, s.v, s.p)""".stripMargin)
    spark.sql(s"SELECT v FROM $cat.db.ice_pup WHERE k = 3").as[Long]
      .head() shouldBe 333L
    spark.sql(s"SELECT count(*) FROM $cat.db.ice_pup WHERE p = 'even'")
      .as[Long].head() shouldBe 11L
    // the API reader agrees
    IcebergLite.read(spark, t).count() shouldBe 21L
  }

  test("hidden-transform Iceberg SQL UPDATE / MERGE: bucket + day partitions, p0 pruning stays exact") {
    import spark.implicits._
    val wh = warehouse
    // ---- bucket(4, k): the transform real tables actually use --------
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.ice_bup")
    spark.sql(s"CREATE TABLE $cat.db.ice_bup (k BIGINT, v BIGINT) " +
      "USING iceberg PARTITIONED BY (bucket(4, k))")
    (1L to 40L).map(k => (k, k)).toDF("k", "v")
      .createOrReplaceTempView("ibup_src")
    spark.sql(s"INSERT INTO $cat.db.ice_bup SELECT * FROM ibup_src")
    val t = s"$wh/db/ice_bup"
    val pf = IcebergLite.PartField.bucket("k", 4)
    val tgt = pf.valueOf(7L) // the bucket k=7 hashes into
    val others = (0 until 4).map(_.toString).toSet - tgt
    val untouchedBefore = IcebergLite.planPartitioned(spark, t, others)._1.toSet
    val sumBefore = (1L to 40L).sum
    spark.sql(s"UPDATE $cat.db.ice_bup SET v = v + 1000 WHERE k = 7")
    // untouched buckets' files carried; pruning on them plans the SAME
    // files, and the touched bucket's plan is disjoint from them — the
    // replacement file's manifest p0 is the recomputed BUCKET value
    IcebergLite.planPartitioned(spark, t, others)._1.toSet shouldBe
      untouchedBefore
    val tgtAfter = IcebergLite.planPartitioned(spark, t, Set(tgt))._1.toSet
    tgtAfter should not be empty
    tgtAfter.intersect(untouchedBefore) shouldBe empty
    spark.sql(s"SELECT v FROM $cat.db.ice_bup WHERE k = 7")
      .as[Long].head() shouldBe 1007L
    spark.sql(s"SELECT sum(v) FROM $cat.db.ice_bup")
      .as[Long].head() shouldBe sumBefore + 1000L
    // prior snapshots still time-travel below the rewrite
    val snaps = IcebergLite.snapshotIdList(spark, t)
    spark.sql(s"SELECT sum(v) FROM $cat.db.ice_bup VERSION AS OF " +
      s"${snaps.dropRight(1).last}").as[Long].head() shouldBe sumBefore
    // MERGE: matched update + not-matched insert, each landing in ITS
    // recomputed bucket
    Seq((7L, 7777L), (100L, 100L)).toDF("k", "v")
      .createOrReplaceTempView("ibm_src")
    spark.sql(
      s"""MERGE INTO $cat.db.ice_bup t USING ibm_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    spark.sql(s"SELECT v FROM $cat.db.ice_bup WHERE k = 7")
      .as[Long].head() shouldBe 7777L
    val b100 = pf.valueOf(100L)
    IcebergLite.planPartitioned(spark, t, Set(b100))._1 should not be empty
    spark.sql(s"SELECT count(*) FROM $cat.db.ice_bup").as[Long]
      .head() shouldBe 41L
    IcebergLite.read(spark, t).count() shouldBe 41L // API reader agrees
    // ---- days(ts): temporal hidden partitioning ----------------------
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.ice_dup")
    spark.sql(s"CREATE TABLE $cat.db.ice_dup (ts TIMESTAMP, v BIGINT) " +
      "USING iceberg PARTITIONED BY (days(ts))")
    spark.sql(s"INSERT INTO $cat.db.ice_dup VALUES " +
      "(TIMESTAMP'2024-01-01 03:00:00', 1), " +
      "(TIMESTAMP'2024-01-02 04:00:00', 2), " +
      "(TIMESTAMP'2024-01-03 05:00:00', 3)")
    val td = s"$wh/db/ice_dup"
    val day2 = java.time.LocalDate.of(2024, 1, 2).toEpochDay.toString
    val otherDays = Set(java.time.LocalDate.of(2024, 1, 1).toEpochDay,
      java.time.LocalDate.of(2024, 1, 3).toEpochDay).map(_.toString)
    val otherFiles = IcebergLite.planPartitioned(spark, td, otherDays)._1.toSet
    spark.sql(s"UPDATE $cat.db.ice_dup SET v = 20 WHERE v = 2")
    IcebergLite.planPartitioned(spark, td, otherDays)._1.toSet shouldBe
      otherFiles
    val day2After = IcebergLite.planPartitioned(spark, td, Set(day2))._1.toSet
    day2After should not be empty
    day2After.intersect(otherFiles) shouldBe empty
    spark.sql(s"SELECT sum(v) FROM $cat.db.ice_dup").as[Long]
      .head() shouldBe 24L
  }

  test("SQL DML on deletion-vector tables: DELETE merges vectors (no rewrite), UPDATE never resurrects") {
    import spark.implicits._
    val wh = warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.ddv")
    spark.sql(s"CREATE TABLE $cat.db.ddv (k BIGINT, v BIGINT) USING delta")
    (1L to 100L).map(k => (k, k)).toDF("k", "v")
      .createOrReplaceTempView("ddv_src")
    spark.sql(s"INSERT INTO $cat.db.ddv SELECT * FROM ddv_src")
    val t = s"$wh/db/ddv"
    // seed a deletion vector through the format API
    DeltaLite.deleteWhereDV(spark, t, "k", 10L, 20L)
    val filesBefore = DeltaLite.snapshotAt(spark, t).files.toSet
    // SQL DELETE on the DV-carrying table takes the DV route: the new
    // positions UNION into the vectors — data files unchanged
    spark.sql(s"DELETE FROM $cat.db.ddv WHERE k >= 30 AND k <= 40")
    val snapAfter = DeltaLite.snapshotAt(spark, t)
    snapAfter.files.toSet shouldBe filesBefore // no data-file rewrite
    snapAfter.dvs should not be empty
    spark.sql(s"SELECT count(*) FROM $cat.db.ddv").as[Long]
      .head() shouldBe 78L
    DeltaLite.read(spark, t).count() shouldBe 78L // uncompacted API read
    // SQL UPDATE goes through the DV-MASKED row-level scan: the rewrite
    // starts from live rows, so deleted keys never resurrect
    spark.sql(s"UPDATE $cat.db.ddv SET v = v + 1000 WHERE k BETWEEN 5 AND 35")
    spark.sql(s"SELECT count(*) FROM $cat.db.ddv").as[Long]
      .head() shouldBe 78L
    // live matched keys: 5..9 and 21..29 = 14 rows updated
    spark.sql(s"SELECT sum(v) FROM $cat.db.ddv").as[Long]
      .head() shouldBe (4500L + 14L * 1000L)
    spark.sql(s"SELECT count(*) FROM $cat.db.ddv WHERE k BETWEEN 10 AND 20")
      .as[Long].head() shouldBe 0L
    // the `_file` projection masks too — no deleted row carries a tag
    spark.sql(s"SELECT count(*) FROM (SELECT k, _file FROM $cat.db.ddv)")
      .as[Long].head() shouldBe 78L
  }

  test("SQL DML on column-mapped tables: rename -> UPDATE -> field-id reads, time travel intact") {
    import spark.implicits._
    val wh = warehouse
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val t = s"$wh/db/cmu"
    DeltaLite.writeColumnMapped(spark,
      (1L to 50L).map(k => (k, k, s"s$k")).toDF("k", "v", "s"), t)
    DeltaLite.renameColumn(spark, t, "v", "value") // metadata-only
    // SQL UPDATE binds by field id through the rename
    spark.sql(s"UPDATE $cat.db.cmu SET value = value * 10 " +
      "WHERE k BETWEEN 10 AND 19")
    spark.sql(s"SELECT sum(value) FROM $cat.db.cmu").as[Long]
      .head() shouldBe ((1L to 50L).sum - (10L to 19L).sum +
        (10L to 19L).map(_ * 10).sum)
    // the staged replacement files carry PHYSICAL names + field ids —
    // the API reader (field-id resolution) agrees
    DeltaLite.read(spark, t)
      .agg(org.apache.spark.sql.functions.sum($"value")).head
      .getLong(0) shouldBe spark.sql(
        s"SELECT sum(value) FROM $cat.db.cmu").as[Long].head()
    // strings survive the rewrite (all columns restaged physically)
    spark.sql(s"SELECT s FROM $cat.db.cmu WHERE k = 10").as[String]
      .head() shouldBe "s10"
    // MERGE through the same path
    Seq((10L, 77L), (999L, 999L)).toDF("k", "value")
      .createOrReplaceTempView("cmu_src")
    spark.sql(
      s"""MERGE INTO $cat.db.cmu t USING cmu_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET value = s.value""".stripMargin)
    spark.sql(s"SELECT value FROM $cat.db.cmu WHERE k = 10").as[Long]
      .head() shouldBe 77L
    // a version below the rename still serves the ORIGINAL names
    DeltaLite.read(spark, t, versionAsOf = 0L)
      .schema.fieldNames.toSeq shouldBe Seq("k", "v", "s")
    DeltaLite.read(spark, t, versionAsOf = 0L)
      .agg(org.apache.spark.sql.functions.sum($"v")).head
      .getLong(0) shouldBe (1L to 50L).sum
    // SQL DELETE falls back to the row-level path on mapped tables
    spark.sql(s"DELETE FROM $cat.db.cmu WHERE k BETWEEN 40 AND 50")
    spark.sql(s"SELECT count(*) FROM $cat.db.cmu").as[Long]
      .head() shouldBe 39L
  }

  test("partitioned writeStream.toTable: rolling epoch writers declare partitionValues, exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val wh = warehouse
    // ---- Delta identity partition ------------------------------------
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.spt_delta")
    spark.sql(s"CREATE TABLE $cat.db.spt_delta (k BIGINT, p STRING) " +
      "USING delta PARTITIONED BY (p)")
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("k", "p")
      .writeStream
      .option("checkpointLocation", graft.ingest.Sinks.tempDir("spt_ckpt"))
      .toTable(s"$cat.db.spt_delta")
    src.addData((1L, "a"), (2L, "b"), (3L, "a"))
    q.processAllAvailable()
    src.addData((4L, "b"))
    q.processAllAvailable()
    q.stop()
    val t = s"$wh/db/spt_delta"
    spark.sql(s"SELECT k FROM $cat.db.spt_delta ORDER BY k")
      .as[Long].collect() shouldBe Seq(1L, 2L, 3L, 4L)
    // every streamed file carries partitionValues: log-only pruning
    // plans each partition exactly
    val (aFiles, aMatched, total) =
      DeltaLite.planPartitioned(spark, t, "p", Set("a"))
    val (bFiles, bMatched, _) =
      DeltaLite.planPartitioned(spark, t, "p", Set("b"))
    aMatched + bMatched shouldBe total
    aFiles.toSet.intersect(bFiles.toSet) shouldBe empty
    // the pruned read returns exactly that partition's rows
    spark.read.parquet(aFiles.map(f => s"$t/$f"): _*)
      .select("k").as[Long].collect().sorted shouldBe Seq(1L, 3L)
    // epoch replay no-ops: re-commit epoch 0 under the query's ledger
    val appId = DeltaLite.snapshotAt(spark, t).txns.keys
      .find(_.startsWith(DeltaLite.TxnAppId)).get
    val before = DeltaLite.latestVersion(spark, t)
    DeltaLite.commitStreamFiles(spark, t, Nil, epochId = 0L, appId = appId)
    DeltaLite.latestVersion(spark, t) shouldBe before
    // ---- Iceberg hidden transform ------------------------------------
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.spt_ice")
    spark.sql(s"CREATE TABLE $cat.db.spt_ice (k BIGINT, v BIGINT) " +
      "USING iceberg PARTITIONED BY (bucket(4, k))")
    val isrc = MemoryStream[(Long, Long)]
    val iq = isrc.toDF().toDF("k", "v")
      .writeStream
      .option("checkpointLocation", graft.ingest.Sinks.tempDir("spt_ickpt"))
      .toTable(s"$cat.db.spt_ice")
    isrc.addData((1L, 10L), (2L, 20L), (7L, 70L))
    iq.processAllAvailable()
    iq.stop()
    val it = s"$wh/db/spt_ice"
    spark.sql(s"SELECT sum(v) FROM $cat.db.spt_ice").as[Long]
      .head() shouldBe 100L
    // manifest p0 recorded per streamed file: bucket pruning is exact
    val pf = IcebergLite.PartField.bucket("k", 4)
    val b7 = pf.valueOf(7L)
    val plan7 = IcebergLite.planPartitioned(spark, it, Set(b7))._1
    plan7 should not be empty
    spark.read.parquet(plan7: _*).select("k").as[Long]
      .collect() should contain(7L)
  }

  test("maintenance SQL: OPTIMIZE / ZORDER / VACUUM / CALL procedures lower to the format ops") {
    import spark.implicits._
    val wh = warehouse
    // OPTIMIZE/VACUUM go through the injected parser; CALL resolves
    // through the catalog's native ProcedureCatalog — all plain SQL
    def run(sql: String): Seq[org.apache.spark.sql.Row] =
      spark.sql(sql).collect().toSeq
    // ---- Delta: OPTIMIZE then VACUUM ---------------------------------
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.mx")
    spark.sql(s"CREATE TABLE $cat.db.mx (k BIGINT) USING delta")
    (1 to 4).foreach(i => spark.sql(s"INSERT INTO $cat.db.mx VALUES ($i)"))
    val Seq(opt) = run(s"OPTIMIZE $cat.db.mx")
    opt.getLong(1) shouldBe 4L // files before
    opt.getLong(2) shouldBe 1L // files after
    val Seq(vac) = run(s"VACUUM $cat.db.mx")
    vac.getLong(0) shouldBe 4L // the compacted-away files left storage
    spark.sql(s"SELECT sum(k) FROM $cat.db.mx").as[Long].head() shouldBe 10L
    // ---- Delta: ZORDER spelling --------------------------------------
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.mz")
    spark.sql(s"CREATE TABLE $cat.db.mz (x BIGINT, y BIGINT) USING delta")
    (1 to 5).foreach(i =>
      spark.sql(s"INSERT INTO $cat.db.mz VALUES ($i, ${6 - i})"))
    val Seq(z) = run(s"OPTIMIZE $cat.db.mz ZORDER BY (x, y)")
    z.getLong(2) should be <= z.getLong(1)
    spark.sql(s"SELECT sum(x) FROM $cat.db.mz").as[Long].head() shouldBe 15L
    // ---- Iceberg: CALL procedures ------------------------------------
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.mi")
    spark.sql(s"CREATE TABLE $cat.db.mi (k BIGINT) USING iceberg")
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO $cat.db.mi VALUES ($i)"))
    val Seq(rw) = run(s"CALL $cat.system.rewrite_data_files('db.mi')")
    rw.getLong(1) shouldBe 3L
    rw.getLong(2) shouldBe 1L
    val Seq(exp) = run(s"CALL $cat.system.expire_snapshots('db.mi', 1)")
    exp.getLong(0) should be >= 1L
    exp.getLong(1) should be >= 1L
    spark.sql(s"SELECT sum(k) FROM $cat.db.mi").as[Long].head() shouldBe 6L
    // format mismatches refuse with the remedy named
    val e1 = intercept[Exception] { run(s"VACUUM $cat.db.mi") }
    e1.getMessage should include("expire_snapshots")
    val e2 = intercept[Exception] {
      run(s"CALL $cat.system.expire_snapshots('db.mx', 1)")
    }
    e2.getMessage should include("VACUUM")
    // ordinary SQL parses through the delegate untouched
    spark.sql("SELECT 1 AS x").collect()(0).getInt(0) shouldBe 1
    spark.sql(s"SELECT count(*) FROM $cat.db.mx WHERE k > 1")
      .collect()(0).getLong(0) shouldBe 3L
    // procedures are discoverable
    spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.ProcedureCatalog]
      .listProcedures(Array("system")).map(_.name()).sorted shouldBe
      Array("expire_snapshots", "restore", "rewrite_data_files",
        "rewrite_manifests", "rollback_to_snapshot", "vacuum",
        "write_statistics")
  }

  test("t.changes: batch feed relation + streaming drain across a DML history") {
    import spark.implicits._
    val wh = warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.chg")
    spark.sql(s"CREATE TABLE $cat.db.chg (k BIGINT, v BIGINT) USING delta") // v0
    val t = s"$wh/db/chg"
    DeltaLite.enableCdf(spark, t)                                           // v1
    spark.sql(s"INSERT INTO $cat.db.chg SELECT id, id FROM range(1, 51)")   // v2
    spark.sql(s"DELETE FROM $cat.db.chg WHERE k >= 10 AND k <= 19")         // v3
    DeltaLite.mergeInto(spark, t,
      Seq((20L, 2000L), (999L, 999L)).toDF("k", "v"), "k")                  // v4
    // the batch relation IS readCdf
    val batch = spark.sql(s"SELECT * FROM $cat.db.chg.changes")
    batch.columns.toSeq shouldBe
      Seq("k", "v", "_change_type", "_commit_version")
    val census = batch.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    census shouldBe Map("insert" -> 51L, "delete" -> 10L,
      "update_preimage" -> 1L, "update_postimage" -> 1L)
    val batchSet = batch.as[(Long, Long, String, Long)].collect().toSet
    // a streaming drain from the first data version equals the batch feed
    val seen = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, Long, String, Long)]()
    val ckpt = graft.ingest.Sinks.tempDir("chg_ckpt")
    def drain(): Long = {
      val n = new java.util.concurrent.atomic.AtomicLong(0)
      val q = spark.readStream.option("startingVersion", "2")
        .table(s"$cat.db.chg.changes")
        .writeStream
        .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
          df.as[(Long, Long, String, Long)].collect().foreach { r =>
            seen.add(r); n.incrementAndGet()
          }
          ()
        })
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      n.get()
    }
    drain() shouldBe batchSet.size.toLong
    scala.jdk.CollectionConverters.SetHasAsScala(seen).asScala
      .toSet shouldBe batchSet
    // resume: only NEW commits' changes drain (checkpointed offset)
    spark.sql(s"DELETE FROM $cat.db.chg WHERE k = 5")                       // v5
    drain() shouldBe 1L
    // DV-route deletes announce through their cdc too
    DeltaLite.deleteWhereDV(spark, t, "k", 30L, 32L)                        // v6
    drain() shouldBe 3L
    // iceberg: the batch relation serves AND the stream drains the same
    // state-diff feed — inserts, a MOR position delete, a COW rewrite
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.ichg")
    spark.sql(s"CREATE TABLE $cat.db.ichg (k BIGINT, v BIGINT) USING iceberg")
    val it = s"$wh/db/ichg"
    spark.sql(s"INSERT INTO $cat.db.ichg SELECT id, id FROM range(1, 21)")
    spark.sql(s"DELETE FROM $cat.db.ichg WHERE k >= 5 AND k <= 8") // MOR
    IcebergLite.rewriteDataFiles(spark, it) // replace: row-silent
    spark.sql(s"UPDATE $cat.db.ichg SET v = v * 10 WHERE k = 10") // COW
    val batchIce = spark.sql(
      s"SELECT k, v, _change_type, _snapshot_id FROM $cat.db.ichg.changes")
      .as[(Long, Long, String, Long)].collect().toSet
    batchIce.map(_._3).toSet shouldBe Set("insert", "delete")
    val iceSeen = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, Long, String, Long)]()
    val iq = spark.readStream.option("startingVersion", "1")
      .table(s"$cat.db.ichg.changes")
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
        df.as[(Long, Long, String, Long)].collect().foreach(iceSeen.add)
        ()
      })
      .option("checkpointLocation", graft.ingest.Sinks.tempDir("ichg_ck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    iq.awaitTermination()
    scala.jdk.CollectionConverters.SetHasAsScala(iceSeen).asScala
      .toSet shouldBe batchIce
    // the MOR delete announced exactly the masked rows once
    iceSeen.size shouldBe batchIce.size
  }

  test("TBLPROPERTIES: CDF / append-only / CHECK constraints land as metadata commits") {
    import spark.implicits._
    val wh = warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.tp")
    spark.sql(s"CREATE TABLE $cat.db.tp (k BIGINT, v BIGINT) USING delta " +
      "TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true', " +
      "'delta.constraints.pos_v' = 'v > 0')")
    val t = s"$wh/db/tp"
    // CDF declared at create: the change feed covers the first insert
    spark.sql(s"INSERT INTO $cat.db.tp VALUES (1, 10), (2, 20)")
    spark.sql(s"SELECT k, _change_type FROM $cat.db.tp.changes")
      .as[(Long, String)].collect().toSet shouldBe
      Set((1L, "insert"), (2L, "insert"))
    // the CHECK constraint enforces at write time
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.db.tp VALUES (3, -1)")
    }
    e.getMessage should include("pos_v")
    // ALTER … SET TBLPROPERTIES: append-only locks out deletes
    spark.sql(s"ALTER TABLE $cat.db.tp " +
      "SET TBLPROPERTIES ('delta.appendOnly' = 'true')")
    val e2 = intercept[Exception] {
      spark.sql(s"DELETE FROM $cat.db.tp WHERE k = 1")
    }
    e2.getMessage.toLowerCase should include("append")
    spark.sql(s"SELECT count(*) FROM $cat.db.tp").as[Long].head() shouldBe 2L
    // unknown properties refuse loudly, never silently drop
    val e3 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.db.tpx (k BIGINT) USING delta " +
        "TBLPROPERTIES ('delta.unknown.feature' = 'true')")
    }
    e3.getMessage should include("outside this subset")
  }

  test("writeStream.toTable into a column-mapped table: physical-name epochs, field-id reads") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val wh = warehouse
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val t = s"$wh/db/cmst"
    DeltaLite.writeColumnMapped(spark,
      Seq((1L, 10L)).toDF("k", "v"), t)
    DeltaLite.renameColumn(spark, t, "v", "value") // metadata-only
    val src = MemoryStream[(Long, Long)]
    val q = src.toDF().toDF("k", "value")
      .writeStream
      .option("checkpointLocation", graft.ingest.Sinks.tempDir("cmst_ck"))
      .toTable(s"$cat.db.cmst")
    src.addData((2L, 20L), (3L, 30L))
    q.processAllAvailable()
    q.stop()
    // field-id reads serve the streamed rows under the renamed name
    spark.sql(s"SELECT sum(value) FROM $cat.db.cmst").as[Long]
      .head() shouldBe 60L
    DeltaLite.read(spark, t)
      .agg(org.apache.spark.sql.functions.sum($"value")).head
      .getLong(0) shouldBe 60L
    // the staged epoch parquet carries PHYSICAL names only
    val fs = new org.apache.hadoop.fs.Path(t).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val epochFile = fs.listStatus(new org.apache.hadoop.fs.Path(t, "data"))
      .filter(_.getPath.getName.startsWith("se")).flatMap(d =>
        fs.listStatus(d.getPath)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    spark.read.parquet(epochFile.toString).schema.fieldNames
      .toSeq shouldBe Seq("col-1", "col-2")
  }

  test("t.changes on a checkpointed, expired CDF table: the feed starts at the checkpoint") {
    val wh = warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.chgx")
    spark.sql(s"CREATE TABLE $cat.db.chgx (k BIGINT, v BIGINT) USING delta") // v0
    val t = s"$wh/db/chgx"
    DeltaLite.enableCdf(spark, t)                                            // v1
    spark.sql(s"INSERT INTO $cat.db.chgx SELECT id, id FROM range(1, 21)")   // v2
    spark.sql(s"DELETE FROM $cat.db.chgx WHERE k <= 5")                      // v3
    val cpV = DeltaLite.checkpoint(spark, t)
    DeltaLite.expireLog(spark, t) should be > 0L
    spark.sql(s"INSERT INTO $cat.db.chgx SELECT id, id FROM range(21, 26)")  // v4
    spark.sql(s"UPDATE $cat.db.chgx SET v = 0 WHERE k = 10")                 // v5
    val latest = DeltaLite.latestVersion(spark, t)
    val expected = DeltaLite.readCdf(spark, t, cpV, latest).collect()
    expected.map(_.getAs[Long]("_commit_version")).toSet shouldBe
      ((cpV + 1) to latest).toSet
    spark.sql(s"SELECT * FROM $cat.db.chgx.changes").collect()
      .toSet shouldBe expected.toSet
  }

  test("t.changes admission control: maxFilesPerTrigger bounds each micro-batch") {
    import spark.implicits._
    val wh = warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.chgac")
    spark.sql(s"CREATE TABLE $cat.db.chgac (k BIGINT) USING delta")
    DeltaLite.enableCdf(spark, s"$wh/db/chgac")
    (1 to 3).foreach(i =>
      spark.sql(s"INSERT INTO $cat.db.chgac VALUES ($i)"))
    spark.sql(s"DELETE FROM $cat.db.chgac WHERE k = 2")
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    val rows = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream
      .option("startingVersion", "2")
      .option("maxFilesPerTrigger", "1")
      .table(s"$cat.db.chgac.changes")
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
        val n = df.count()
        if (n > 0) { batches.incrementAndGet(); rows.addAndGet(n) }
        ()
      })
      .option("checkpointLocation", graft.ingest.Sinks.tempDir("chgac_ck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // 4 change-carrying commits, one unit each, cap 1 → one commit per
    // micro-batch; 3 inserts + 1 delete = 4 rows total
    batches.get() shouldBe 4L
    rows.get() shouldBe 4L
  }

  test("readStream.table: the commit log is the offset axis, restart resumes, rewrites refuse") {
    import spark.implicits._
    val wh = warehouse
    for (fmt <- Seq("delta", "iceberg")) {
      val tbl = s"srd_$fmt"
      spark.sql(s"DROP TABLE IF EXISTS $cat.db.$tbl")
      spark.sql(s"CREATE TABLE $cat.db.$tbl (k BIGINT, v BIGINT) USING $fmt")
      spark.sql(s"INSERT INTO $cat.db.$tbl VALUES (1, 10), (2, 20)")
      val ckpt = graft.ingest.Sinks.tempDir(s"srd_ckpt_$fmt")
      def drain(): Long = {
        val n = new java.util.concurrent.atomic.AtomicLong(0)
        val q = spark.readStream.table(s"$cat.db.$tbl")
          .writeStream
          .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
            n.addAndGet(df.count()); ()
          })
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        n.get()
      }
      // first drain: the initial snapshot
      drain() shouldBe 2L
      // appends land; a resumed query (same checkpoint) sees ONLY them
      spark.sql(s"INSERT INTO $cat.db.$tbl VALUES (3, 30), (4, 40), (5, 50)")
      drain() shouldBe 3L
      // a rewriting commit cannot masquerade as appends: refuse loudly
      spark.sql(s"UPDATE $cat.db.$tbl SET v = 99 WHERE k = 1")
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        drain()
      }
      e.getMessage should (include("appends only") or include("removes files")
        or include("replace files"))
    }
  }

  test("readStream.table admission control: maxFilesPerTrigger bounds every micro-batch") {
    import spark.implicits._
    val wh = warehouse
    for (fmt <- Seq("delta", "iceberg")) {
      val tbl = s"adm_$fmt"
      spark.sql(s"DROP TABLE IF EXISTS $cat.db.$tbl")
      spark.sql(s"CREATE TABLE $cat.db.$tbl (k BIGINT) USING $fmt")
      // three single-file commits → the initial snapshot holds 3 files
      (1 to 3).foreach(i =>
        spark.sql(s"INSERT INTO $cat.db.$tbl VALUES ($i)"))
      val ckpt = graft.ingest.Sinks.tempDir(s"adm_ckpt_$fmt")
      def drain(): (Long, Long) = { // (batches, rows)
        val batches = new java.util.concurrent.atomic.AtomicLong(0)
        val rows = new java.util.concurrent.atomic.AtomicLong(0)
        val q = spark.readStream
          .option("maxFilesPerTrigger", "1")
          .table(s"$cat.db.$tbl")
          .writeStream
          .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
            val n = df.count()
            if (n > 0) { batches.incrementAndGet(); rows.addAndGet(n) }
            ()
          })
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        (batches.get(), rows.get())
      }
      // the 100 TB hazard, bounded: the initial snapshot drains as one
      // batch PER FILE, not one batch total
      drain() shouldBe ((3L, 3L))
      // appends keep the same bound on resume
      spark.sql(s"INSERT INTO $cat.db.$tbl VALUES (4)")
      spark.sql(s"INSERT INTO $cat.db.$tbl VALUES (5)")
      drain() shouldBe ((2L, 2L))
      spark.sql(s"SELECT sum(k) FROM $cat.db.$tbl").as[Long]
        .head() shouldBe 15L
    }
  }

  test("table-to-table streaming ETL: readStream.table -> transform -> writeStream.toTable") {
    import spark.implicits._
    val wh = warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.etl_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.etl_dst")
    spark.sql(s"CREATE TABLE $cat.db.etl_src (k BIGINT, v BIGINT) USING delta")
    spark.sql(s"CREATE TABLE $cat.db.etl_dst (k BIGINT, v2 BIGINT) USING iceberg")
    spark.sql(s"INSERT INTO $cat.db.etl_src VALUES (1, 10), (2, 20)")
    val ckpt = graft.ingest.Sinks.tempDir("etl_ckpt")
    def run(): Unit = {
      val q = spark.readStream.table(s"$cat.db.etl_src")
        .select(col("k"), (col("v") * 2).as("v2"))
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"$cat.db.etl_dst")
      q.awaitTermination()
    }
    run()
    spark.sql(s"SELECT k, v2 FROM $cat.db.etl_dst ORDER BY k")
      .as[(Long, Long)].collect() shouldBe Seq((1L, 20L), (2L, 40L))
    // appends flow through on resume — exactly-once end to end
    spark.sql(s"INSERT INTO $cat.db.etl_src VALUES (3, 30)")
    run()
    spark.sql(s"SELECT k, v2 FROM $cat.db.etl_dst ORDER BY k")
      .as[(Long, Long)].collect() shouldBe
      Seq((1L, 20L), (2L, 40L), (3L, 60L))
    // a re-run with NOTHING new commits nothing (no duplicate rows)
    run()
    spark.sql(s"SELECT count(*) FROM $cat.db.etl_dst").as[Long]
      .head() shouldBe 3L
  }

  test("TRUNCATE TABLE: one metadata commit removing every live file, history intact") {
    import spark.implicits._
    val wh = warehouse
    for (fmt <- Seq("delta", "iceberg")) {
      val tbl = s"tr_$fmt"
      spark.sql(s"DROP TABLE IF EXISTS $cat.db.$tbl")
      spark.sql(s"CREATE TABLE $cat.db.$tbl (k BIGINT) USING $fmt")
      spark.sql(s"INSERT INTO $cat.db.$tbl VALUES (1), (2), (3)")
      spark.sql(s"TRUNCATE TABLE $cat.db.$tbl")
      spark.sql(s"SELECT count(*) FROM $cat.db.$tbl").as[Long]
        .head() shouldBe 0L
      // a truncate is a COMMIT, not a wipe: the pre-truncate version
      // still time-travels
      val preVersion = if (fmt == "delta") 1 else 2
      spark.sql(s"SELECT count(*) FROM $cat.db.$tbl " +
        s"VERSION AS OF $preVersion").as[Long].head() shouldBe 3L
      // and the table keeps accepting writes
      spark.sql(s"INSERT INTO $cat.db.$tbl VALUES (9)")
      spark.sql(s"SELECT k FROM $cat.db.$tbl").as[Long]
        .collect() shouldBe Seq(9L)
    }
  }

  test("CREATE OR REPLACE / IF NOT EXISTS route through the catalog's create+drop") {
    import spark.implicits._
    val wh = warehouse
    spark.sql(s"CREATE TABLE $cat.db.corp (k BIGINT) USING delta")
    spark.sql(s"INSERT INTO $cat.db.corp VALUES (1)")
    // replace = drop + fresh create (the non-staging catalog contract):
    // new schema, empty table, log restarts
    spark.sql(s"CREATE OR REPLACE TABLE $cat.db.corp (k BIGINT, v BIGINT) " +
      "USING delta")
    spark.sql(s"SELECT count(*) FROM $cat.db.corp").as[Long].head() shouldBe 0L
    DeltaLite.latestVersion(spark, s"$wh/db/corp") shouldBe 0L
    spark.sql(s"CREATE OR REPLACE TABLE $cat.db.corp2 USING iceberg AS " +
      "SELECT CAST(5 AS BIGINT) AS k")
    spark.sql(s"SELECT k FROM $cat.db.corp2").as[Long].head() shouldBe 5L
    // IF NOT EXISTS no-ops on the existing table
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.db.corp2 (x BIGINT) " +
      "USING delta")
    spark.sql(s"SELECT k FROM $cat.db.corp2").as[Long].head() shouldBe 5L
  }

  test("merge-on-read state takes SQL UPDATE / MERGE: live-row rewrite, no resurrection, MOR time travel (X300)") {
    import spark.implicits._
    val wh = warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.imor")
    spark.sql(s"CREATE TABLE $cat.db.imor (k BIGINT, v BIGINT) USING iceberg")
    spark.sql(s"INSERT INTO $cat.db.imor " +
      "SELECT id AS k, id AS v FROM range(1, 101)")
    val t = s"$wh/db/imor"
    // claimable SQL DELETE takes the MOR fast path: no data file moves
    val filesBefore = IcebergLite.snapshotFiles(spark, t, -1L).toSet
    spark.sql(s"DELETE FROM $cat.db.imor WHERE k BETWEEN 1 AND 20")
    IcebergLite.snapshotFiles(spark, t, -1L).toSet shouldBe filesBefore
    // equality delete: the streaming-upsert kind
    IcebergLite.deleteWhereEquality(spark, t, "k", Seq(30L, 31L, 32L))
    IcebergLite.snapshotDeleteFiles(spark, t, -1L) should not be empty
    val prevSnap = IcebergLite.currentSnapshotId(spark, t)
    // SQL UPDATE + MERGE with BOTH delete kinds applied reader-side —
    // previously a stated refusal whose remedy was a table rewrite
    spark.sql(s"UPDATE $cat.db.imor SET v = v * 10 WHERE k BETWEEN 25 AND 40")
    spark.sql(
      s"""MERGE INTO $cat.db.imor x
         |USING (SELECT id AS k FROM range(1, 101) WHERE id % 10 = 0) s
         |ON x.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = x.v + 1000""".stripMargin)
    val want = (21L to 100L).filterNot(Set(30L, 31L, 32L)).map { k =>
      val u = if (k >= 25 && k <= 40) k * 10 else k
      (k, if (k % 10 == 0) u + 1000 else u)
    }
    spark.sql(s"SELECT k, v FROM $cat.db.imor ORDER BY k")
      .as[(Long, Long)].collect().toSeq shouldBe want
    // nothing resurrects: both deleted populations stay gone
    spark.sql(s"SELECT count(*) FROM $cat.db.imor " +
      "WHERE k <= 20 OR k IN (30, 31, 32)").as[Long].head() shouldBe 0L
    // the pre-DML snapshot time-travels WITH its MOR state applied
    spark.sql(s"SELECT count(*) FROM $cat.db.imor VERSION AS OF $prevSnap")
      .as[Long].head() shouldBe 77L
  }

  test("PARTITIONED merge-on-read state takes SQL UPDATE: rolling rewrite from live rows, sibling partitions carried (X300)") {
    import spark.implicits._
    val wh = warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.pmor")
    spark.sql(s"CREATE TABLE $cat.db.pmor (k BIGINT, p STRING, v BIGINT) " +
      "USING iceberg PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $cat.db.pmor " +
      "SELECT id, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END, id " +
      "FROM range(0, 40)")
    val t = s"$wh/db/pmor"
    // MOR state on the partitioned table: position-delete 0..9, then an
    // equality delete — both apply reader-side during the DML
    spark.sql(s"DELETE FROM $cat.db.pmor WHERE k BETWEEN 0 AND 9")
    IcebergLite.deleteWhereEquality(spark, t, "k", Seq(20L, 21L))
    IcebergLite.snapshotDeleteFiles(spark, t, -1L) should not be empty
    val aBefore = IcebergLite.planPartitioned(spark, t, Set("a"))._1.toSet
    // UPDATE touches only partition 'b' (odd keys): the rolling write
    // re-declares p0, partition 'a' files carried byte-identical
    spark.sql(s"UPDATE $cat.db.pmor SET v = v * 10 " +
      "WHERE k >= 25 AND p = 'b'")
    IcebergLite.planPartitioned(spark, t, Set("a"))._1.toSet shouldBe aBefore
    val want = (10L until 40L).filterNot(Set(20L, 21L)).map { k =>
      val p = if (k % 2 == 0) "a" else "b"
      (k, p, if (k >= 25 && p == "b") k * 10 else k)
    }
    spark.sql(s"SELECT k, p, v FROM $cat.db.pmor ORDER BY k")
      .as[(Long, String, Long)].collect().toSeq shouldBe want
    // nothing resurrects in either partition
    spark.sql(s"SELECT count(*) FROM $cat.db.pmor " +
      "WHERE k <= 9 OR k IN (20, 21)").as[Long].head() shouldBe 0L
  }

  test("VERSION AS OF '<ref>' resolves Iceberg tags in SQL; Delta refuses with the remedy (X302)") {
    import spark.implicits._
    val wh = warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.reft")
    spark.sql(s"CREATE TABLE $cat.db.reft (k BIGINT) USING iceberg")
    spark.sql(s"INSERT INTO $cat.db.reft SELECT id FROM range(0, 10)")
    IcebergLite.setRef(spark, s"$wh/db/reft", "audit",
      IcebergLite.currentSnapshotId(spark, s"$wh/db/reft"))
    spark.sql(s"INSERT INTO $cat.db.reft SELECT id FROM range(10, 30)")
    spark.sql(s"SELECT count(*) FROM $cat.db.reft VERSION AS OF 'audit'")
      .as[Long].head() shouldBe 10L
    spark.sql(s"SELECT count(*) FROM $cat.db.reft")
      .as[Long].head() shouldBe 30L
    // the tag outlives routine expiration (spec §Refs retention)
    IcebergLite.expireSnapshots(spark, s"$wh/db/reft", keepLast = 1)
    spark.sql(s"SELECT count(*) FROM $cat.db.reft VERSION AS OF 'audit'")
      .as[Long].head() shouldBe 10L
    // unknown refs and Delta tables refuse loudly
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.db.reft VERSION AS OF 'nope'").collect()
    }.getMessage should include("no ref")
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.dreft")
    spark.sql(s"CREATE TABLE $cat.db.dreft (k BIGINT) USING delta")
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.db.dreft VERSION AS OF 'tag'").collect()
    }.getMessage should include("no named refs")
  }

  test("DELETE ... IN: equality-delete fast path on Iceberg, row-level fallback on Delta (X306)") {
    import spark.implicits._
    val wh = warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.din")
    spark.sql(s"CREATE TABLE $cat.db.din (k BIGINT, v BIGINT) USING iceberg")
    spark.sql(s"INSERT INTO $cat.db.din SELECT id, id * 10 FROM range(0, 20)")
    val t = s"$wh/db/din"
    val filesBefore = IcebergLite.snapshotFiles(spark, t, -1L).toSet
    spark.sql(s"DELETE FROM $cat.db.din WHERE k IN (3, 5, 7, 99)")
    // no data file moved: the value list IS the commit
    IcebergLite.snapshotFiles(spark, t, -1L).toSet shouldBe filesBefore
    IcebergLite.snapshotDeleteFiles(spark, t, -1L).foreach(p =>
      spark.read.parquet(p).schema.fieldNames.toSeq shouldBe Seq("k"))
    spark.sql(s"SELECT k FROM $cat.db.din ORDER BY k").as[Long].collect()
      .toSeq shouldBe (0L until 20L).filterNot(Set(3L, 5L, 7L))
    // sequence gating end-to-end in SQL: re-insert outlives the delete
    spark.sql(s"INSERT INTO $cat.db.din VALUES (5, 555)")
    spark.sql(s"SELECT v FROM $cat.db.din WHERE k = 5").as[Long]
      .collect().toSeq shouldBe Seq(555L)
    // plain Delta: IN is not claimable (no value-delete kind) — it
    // falls through to the row-level rewrite and still answers correctly
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.ddin")
    spark.sql(s"CREATE TABLE $cat.db.ddin (k BIGINT, v BIGINT) USING delta")
    spark.sql(s"INSERT INTO $cat.db.ddin SELECT id, id * 10 FROM range(0, 10)")
    spark.sql(s"DELETE FROM $cat.db.ddin WHERE k IN (2, 4)")
    spark.sql(s"SELECT k FROM $cat.db.ddin ORDER BY k").as[Long].collect()
      .toSeq shouldBe (0L until 10L).filterNot(Set(2L, 4L))
    // DV-CARRYING Delta (X307): IN claims the vector-merge fast path —
    // positions of exact matches union in, no data file moves
    val dt = s"$wh/db/dvin"
    DeltaLite.write(spark,
      (0L until 20L).map(i => (i, i * 10L)).toDF("k", "v").repartition(2),
      dt, collectStats = true)
    DeltaLite.deleteWhereDV(spark, dt, "k", 0L, 1L) // vectors live
    val before = DeltaLite.snapshotAt(spark, dt).files.toSet
    spark.sql(s"DELETE FROM $cat.db.dvin WHERE k IN (6, 9, 12)")
    DeltaLite.snapshotAt(spark, dt).files.toSet shouldBe before
    spark.sql(s"SELECT k FROM $cat.db.dvin ORDER BY k").as[Long].collect()
      .toSeq shouldBe (2L until 20L).filterNot(Set(6L, 9L, 12L))
  }

  test("shallow clone in the warehouse: absolute add paths resolve through SQL") {
    import spark.implicits._
    // source OUTSIDE the warehouse; clone inside — its add actions carry
    // ABSOLUTE source paths, which must not be glued under the clone root
    val src = Sinks.tempDir("cat_clone_src")
    DeltaLite.write(spark, (1L to 6L).map(k => (k, k * 10L)).toDF("k", "v"),
      src, collectStats = true)
    DeltaLite.shallowClone(spark, src, s"$warehouse/db/cloned")
    spark.sql(s"SELECT sum(v) AS s FROM $cat.db.cloned")
      .as[Long].collect() shouldBe Seq(210L)
    spark.sql(s"SELECT k FROM $cat.db.cloned WHERE k >= 5 ORDER BY k")
      .as[Long].collect() shouldBe Seq(5L, 6L)
  }

  test("branch-addressed writes: INSERT INTO t.branch_dev commits on the branch, main untouched (X317)") {
    import spark.implicits._
    val t = s"$warehouse/db/brw"
    IcebergLite.write(spark,
      (1L to 4L).map(k => (k, k * 10.0)).toDF("k", "v"), t)
    IcebergLite.setRef(spark, t, "dev",
      IcebergLite.currentSnapshotId(spark, t), "branch")
    IcebergLite.setRef(spark, t, "v1tag",
      IcebergLite.currentSnapshotId(spark, t), "tag")
    Seq((9L, 90.0)).toDF("k", "v").createOrReplaceTempView("brw_src")
    spark.sql(s"INSERT INTO $cat.db.brw.branch_dev SELECT * FROM brw_src")
    // the branch sees base + the branch append; main is untouched
    spark.sql(s"SELECT k FROM $cat.db.brw.branch_dev ORDER BY k")
      .as[Long].collect() shouldBe Seq(1L, 2L, 3L, 4L, 9L)
    spark.sql(s"SELECT k FROM $cat.db.brw ORDER BY k")
      .as[Long].collect() shouldBe Seq(1L, 2L, 3L, 4L)
    // tags are immutable — the write spelling refuses
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.db.brw.branch_v1tag VALUES (7, 70.0)")
    }
    e.getMessage should include("tag")
    // fastForward publishes the branch to main
    IcebergLite.fastForward(spark, t, "dev")
    spark.sql(s"SELECT k FROM $cat.db.brw ORDER BY k")
      .as[Long].collect() shouldBe Seq(1L, 2L, 3L, 4L, 9L)
  }

  test("t.detail serves DESCRIBE DETAIL's one-row summary off metadata alone (X316)") {
    import spark.implicits._
    for ((fmt, tn) <- Seq("delta" -> "det_d", "iceberg" -> "det_i")) {
      val t = s"$warehouse/db/$tn"
      val rows = (1L to 40L).map(k => (k, k * 2.0)).toDF("k", "v")
      if (fmt == "delta")
        DeltaLite.write(spark, rows.repartition(3), t, collectStats = true)
      else IcebergLite.write(spark, rows.repartition(3), t)
      val d = spark.sql(
        s"""SELECT format, num_files, size_in_bytes, num_records,
           |num_versions FROM $cat.db.$tn.detail""".stripMargin).collect()
      d.length shouldBe 1
      d(0).getString(0) shouldBe fmt
      d(0).getLong(1) shouldBe 3L
      d(0).getLong(2) should be > 0L
      d(0).getLong(3) shouldBe 40L // recounted from log stats/manifests
      d(0).getLong(4) should be >= 1L
    }
  }

  test("TRUNCATE TABLE: metadata-only remove-all on both formats, history preserved (X314)") {
    import spark.implicits._
    for ((fmt, tn) <- Seq("delta" -> "trunc_d", "iceberg" -> "trunc_i")) {
      val t = s"$warehouse/db/$tn"
      val rows = (1L to 6L).map(k => (k, k * 10.0)).toDF("k", "v")
      val v0 =
        if (fmt == "delta") DeltaLite.write(spark, rows, t)
        else IcebergLite.write(spark, rows, t)
      spark.sql(s"TRUNCATE TABLE $cat.db.$tn")
      spark.table(s"$cat.db.$tn").count() shouldBe 0L
      // history preserved: the pre-truncate version still serves
      if (fmt == "delta")
        spark.sql(s"SELECT count(*) FROM $cat.db.$tn VERSION AS OF $v0")
          .as[Long].collect() shouldBe Seq(6L)
      else IcebergLite.read(spark, t, v0).count() shouldBe 6L
      // the next append starts a fresh live set
      if (fmt == "delta")
        DeltaLite.write(spark, Seq((9L, 90.0)).toDF("k", "v"), t)
      else IcebergLite.write(spark, Seq((9L, 90.0)).toDF("k", "v"), t)
      spark.sql(s"SELECT k FROM $cat.db.$tn").as[Long].collect() shouldBe
        Seq(9L)
    }
  }

  test("MERGE WITH SCHEMA EVOLUTION widens both formats; plain MERGE never auto-evolves (X313)") {
    import spark.implicits._
    for ((fmt, tn) <- Seq("delta" -> "mevo_d", "iceberg" -> "mevo_i")) {
      val t = s"$warehouse/db/$tn"
      val base = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
      if (fmt == "delta") DeltaLite.write(spark, base, t)
      else IcebergLite.write(spark, base, t)
      Seq((2L, 99.0, "x"), (3L, 30.0, "y")).toDF("k", "v", "tag")
        .createOrReplaceTempView(s"evo_src_$tn")
      // WITHOUT the clause: star actions align to the target — no
      // evolution, no error (capability alone must not auto-evolve)
      spark.sql(
        s"""MERGE INTO $cat.db.$tn t USING evo_src_$tn s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      spark.table(s"$cat.db.$tn").columns.toSeq shouldBe Seq("k", "v")
      // WITH the clause: the target widens through alterTable(AddColumn)
      // before the rewrite plans; pre-merge rows surface NULL
      spark.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.db.$tn t
           |USING evo_src_$tn s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      spark.table(s"$cat.db.$tn").columns.toSeq shouldBe Seq("k", "v", "tag")
      spark.sql(s"SELECT k, v, tag FROM $cat.db.$tn ORDER BY k")
        .as[(Long, Double, Option[String])].collect() shouldBe Seq(
        (1L, 10.0, None), (2L, 99.0, Some("x")), (3L, 30.0, Some("y")))
    }
  }

  test("SQL serves v3 DV-carrying tables: read masks through vectors, UPDATE does not resurrect (X310)") {
    import spark.implicits._
    val t = s"$warehouse/db/dv3sql"
    IcebergLite.write(spark,
      (0L until 10L).map(k => (k, k * 10.0)).toDF("k", "v")
        .repartition(2), t)
    IcebergLite.upgradeFormatVersion(spark, t, 3)
    IcebergLite.deleteWhereDV(spark, t, "k", 0L, 2L)
    // plain SQL read masks through the Puffin vector — no compaction
    spark.sql(s"SELECT k FROM $cat.db.dv3sql ORDER BY k")
      .as[Long].collect() shouldBe (3L to 9L)
    // row-level DML sees the vector too: the rewritten rows are exactly
    // the LIVE matches; DV-deleted rows stay dead
    spark.sql(s"UPDATE $cat.db.dv3sql SET v = v + 1000 WHERE k <= 4")
    spark.sql(s"SELECT k, v FROM $cat.db.dv3sql ORDER BY k")
      .as[(Long, Double)].collect() shouldBe
      ((3L to 9L).map(k => (k, if (k <= 4) k * 10.0 + 1000 else k * 10.0)))
  }

  test("Iceberg head DML after a metadata-only evolution keeps the evolved schema (X313 regression)") {
    import spark.implicits._
    val t = s"$warehouse/db/evo_dml"
    IcebergLite.write(spark,
      (1L to 8L).map(k => (k, k * 10.0)).toDF("k", "v"), t)
    spark.sql(s"ALTER TABLE $cat.db.evo_dml ADD COLUMNS (tag STRING)")
    // each head-commit path must record the TABLE's current schema, not
    // the head snapshot's own (they diverge after a metadata-only
    // evolution — committing the snapshot's schema silently REVERTS it)
    IcebergLite.deleteWhere(spark, t, "k", 1L, 2L) // MOR position delete
    spark.table(s"$cat.db.evo_dml").columns.toSeq shouldBe
      Seq("k", "v", "tag")
    spark.sql(s"UPDATE $cat.db.evo_dml SET v = v + 1 WHERE k = 5") // COW
    spark.table(s"$cat.db.evo_dml").columns.toSeq shouldBe
      Seq("k", "v", "tag")
    IcebergLite.rewriteDataFiles(spark, t) // replace
    spark.table(s"$cat.db.evo_dml").columns.toSeq shouldBe
      Seq("k", "v", "tag")
    spark.sql(s"SELECT k, tag FROM $cat.db.evo_dml WHERE k >= 7 ORDER BY k")
      .as[(Long, Option[String])].collect() shouldBe
      Seq((7L, None), (8L, None))
  }
}
