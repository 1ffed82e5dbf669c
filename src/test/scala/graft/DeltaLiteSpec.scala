package graft

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.ingest.Sinks
import graft.sources.DeltaLite

/** X36e/X36f: the minimal Delta-protocol implementation — log structure
  * conformance, overwrite/remove semantics, time travel, and the
  * atomic-create commit arbiter. */
class DeltaLiteSpec extends SparkSpec with Matchers {

  private val mapper = new ObjectMapper()

  private def logLines(table: String, v: Long): Seq[String] = {
    val p = java.nio.file.Paths.get(table, "_delta_log", f"$v%020d.json")
    scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(p)).asScala.toSeq.filter(_.nonEmpty)
  }

  test("v0 log carries protocol + metaData + add actions, spec-shaped") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_spec0")
    val v = DeltaLite.write(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s").repartition(2), table)
    v shouldBe 0L
    val lines = logLines(table, 0L).map(mapper.readTree)
    // commitInfo leads every commit, as Delta itself writes it
    lines.head.get("commitInfo").get("operation").asText() shouldBe "WRITE"
    lines(1).get("protocol").get("minReaderVersion").asInt() shouldBe 1
    val meta = lines(2).get("metaData")
    meta.get("format").get("provider").asText() shouldBe "parquet"
    // schemaString is Spark's StructType JSON — must parse back losslessly
    DeltaLite.tableSchema(spark, table).fieldNames.toSeq shouldBe Seq("k", "s")
    val adds = lines.drop(3)
    adds.foreach { a =>
      a.has("add") shouldBe true
      a.get("add").get("dataChange").asBoolean() shouldBe true
      val f = new java.io.File(table, a.get("add").get("path").asText())
      f.exists() shouldBe true
      a.get("add").get("size").asLong() shouldBe f.length()
    }
  }

  test("append accumulates; overwrite removes every previously-live file") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_spec1")
    DeltaLite.write(spark, Seq((1L, 10L)).toDF("k", "v"), table)
    DeltaLite.write(spark, Seq((2L, 20L)).toDF("k", "v"), table)
    DeltaLite.read(spark, table).count() shouldBe 2L
    DeltaLite.write(spark, Seq((9L, 90L)).toDF("k", "v"), table,
      overwrite = true)
    val latest = DeltaLite.read(spark, table).collect()
    latest.map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((9L, 90L))
    // the overwrite commit must carry one remove per previously-live file
    val v2 = logLines(table, 2L).map(mapper.readTree)
    val removed = v2.filter(_.has("remove")).map(_.get("remove").get("path").asText())
    val liveBefore =
      (logLines(table, 0L) ++ logLines(table, 1L)).map(mapper.readTree)
        .filter(_.has("add")).map(_.get("add").get("path").asText())
    removed.toSet shouldBe liveBefore.toSet
    // time travel below the overwrite still sees both original rows
    DeltaLite.read(spark, table, versionAsOf = 1L).count() shouldBe 2L
    DeltaLite.read(spark, table, versionAsOf = 0L).count() shouldBe 1L
  }

  test("commit arbiter: a taken version cannot be committed twice") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_spec2")
    DeltaLite.write(spark, Seq((1L, 1L)).toDF("k", "v"), table)
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    DeltaLite.tryCommit(fs, table, 0L, Seq("{}")) shouldBe false
    DeltaLite.tryCommit(fs, table, 1L, Seq("{}")) shouldBe true
  }

  test("two racing writers: each version won once, loser leaves no orphan") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_race")
    DeltaLite.write(spark, Seq((0L, 0L)).toDF("k", "v"), table)
    // both writers plan from v0 and race to create v1; the arbiter
    // admits one, the other removes its staged files and retries at v2
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = Seq(1L, 2L).map { i =>
      new Thread(() => results.add(
        DeltaLite.write(spark, Seq((i, i * 10L)).toDF("k", "v"), table)))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    results.asScala.toSet shouldBe Set(1L, 2L)
    DeltaLite.read(spark, table).as[(Long, Long)].collect().sorted shouldBe
      Seq((0L, 0L), (1L, 10L), (2L, 20L))
    // every file under data/ is live: nothing staged was left behind
    DeltaLite.vacuum(spark, table, graceMs = 0L) shouldBe 0L
  }

  test("readChanges: append-only slices read; ranges with removes refuse") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_spec4")
    DeltaLite.write(spark, Seq((1L, 1L)).toDF("k", "v"), table)
    DeltaLite.write(spark, Seq((2L, 2L), (3L, 3L)).toDF("k", "v"), table)
    val changed = DeltaLite.readChanges(spark, table, 0L, 1L).collect()
    changed.map(_.getLong(0)).toSet shouldBe Set(2L, 3L)
    DeltaLite.write(spark, Seq((9L, 9L)).toDF("k", "v"), table,
      overwrite = true)
    an[UnsupportedOperationException] should be thrownBy
      DeltaLite.readChanges(spark, table, 1L, 2L)
  }

  test("commitIdempotent: a redelivered micro-batch is a no-op") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_spec5")
    val b0 = Seq((1L, 10L)).toDF("k", "v")
    val v0 = DeltaLite.commitIdempotent(spark, b0, table, batchId = 0L)
    // redelivery of batch 0 (failure/replay) returns the ORIGINAL version
    DeltaLite.commitIdempotent(spark, b0, table, batchId = 0L) shouldBe v0
    val v1 = DeltaLite.commitIdempotent(spark,
      Seq((2L, 20L)).toDF("k", "v"), table, batchId = 1L)
    v1 should be > v0
    DeltaLite.read(spark, table).count() shouldBe 2L // no duplicate rows
    DeltaLite.latestVersion(spark, table) shouldBe v1
  }

  test("schema evolution: newest metaData governs reads, old versions keep theirs") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_spec6")
    DeltaLite.write(spark, Seq((1L, 10L)).toDF("k", "v"), table)
    DeltaLite.write(spark,
      Seq((2L, 20L, "x")).toDF("k", "v", "s"), table)
    // latest read: evolved 3-column schema; v0 file surfaces s as NULL
    val latest = DeltaLite.read(spark, table).orderBy("k").collect()
    latest.map(_.schema.fieldNames.length).toSet shouldBe Set(3)
    latest(0).isNullAt(2) shouldBe true
    latest(1).getString(2) shouldBe "x"
    // a versionAsOf=0 read still sees the ORIGINAL 2-column schema
    DeltaLite.read(spark, table, versionAsOf = 0L)
      .schema.fieldNames.toSeq shouldBe Seq("k", "v")
    // the evolving commit re-declared metaData with the SAME table id
    val id0 = logLines(table, 0L).map(mapper.readTree)
      .find(_.has("metaData")).get.get("metaData").get("id").asText()
    val metas1 = logLines(table, 1L).map(mapper.readTree).filter(_.has("metaData"))
    metas1.size shouldBe 1
    metas1.head.get("metaData").get("id").asText() shouldBe id0
  }

  test("checkpoint: reads survive expired JSON prefix; state is exact") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_spec7")
    DeltaLite.write(spark, Seq((1L, 10L)).toDF("k", "v"), table)
    DeltaLite.write(spark, Seq((2L, 20L)).toDF("k", "v"), table)
    DeltaLite.write(spark, Seq((9L, 90L), (2L, 21L)).toDF("k", "v"), table,
      overwrite = true) // checkpoint must capture the post-remove live set
    DeltaLite.checkpoint(spark, table) shouldBe 2L
    DeltaLite.lastCheckpointVersion(spark, table) shouldBe 2L
    // the checkpoint is one spec-named parquet FILE, not a directory
    new java.io.File(table,
      "_delta_log/00000000000000000002.checkpoint.parquet").isFile shouldBe true
    DeltaLite.expireLog(spark, table) shouldBe 2L // 0.json + 1.json deleted
    DeltaLite.write(spark, Seq((3L, 30L)).toDF("k", "v"), table)
    val (df, snap) = DeltaLite.readWithStats(spark, table)
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Set((9L, 90L), (2L, 21L), (3L, 30L))
    snap.checkpointVersion shouldBe 2L
    snap.jsonReplayed shouldBe 1L // only version 3
    // schema survives through the checkpoint's metaData row
    DeltaLite.tableSchema(spark, table).fieldNames.toSeq shouldBe Seq("k", "v")
    // time travel below the checkpoint refuses (its JSON is expired)
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.read(spark, table, versionAsOf = 1L)
  }

  test("vacuum deletes exactly the tombstoned files; current read intact") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_spec8")
    DeltaLite.write(spark, Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .repartition(2), table)
    DeltaLite.write(spark, Seq((9L, 90L)).toDF("k", "v"), table,
      overwrite = true)
    // pre-vacuum: time travel to v0 still works
    DeltaLite.read(spark, table, versionAsOf = 0L).count() shouldBe 2L
    DeltaLite.vacuum(spark, table) shouldBe 2L
    DeltaLite.vacuum(spark, table) shouldBe 0L // idempotent
    DeltaLite.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((9L, 90L))
    // v0's file set is gone: the time-travel scan now fails at read time
    an[Exception] should be thrownBy
      DeltaLite.read(spark, table, versionAsOf = 0L).collect()
  }

  test("stats skipping: add actions carry min/max, planner prunes, checkpoint keeps stats") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_spec9")
    DeltaLite.write(spark,
      Seq((1L, 10L), (5L, 50L)).toDF("k", "v").coalesce(1), table,
      collectStats = true)
    DeltaLite.write(spark,
      Seq((100L, 11L), (200L, 22L)).toDF("k", "v").coalesce(1), table,
      collectStats = true)
    // the committed add action carries protocol-shaped stats JSON
    val adds0 = logLines(table, 0L).map(mapper.readTree).filter(_.has("add"))
    val st0 = mapper.readTree(adds0.head.get("add").get("stats").asText())
    st0.get("numRecords").asLong() shouldBe 2L
    st0.get("minValues").get("k").asLong() shouldBe 1L
    st0.get("maxValues").get("k").asLong() shouldBe 5L
    // planning keeps only overlapping files; conservative without stats
    val (files, matched, total) = DeltaLite.planSkipping(spark, table, "k", 1L, 10L)
    (matched, total) shouldBe ((1L, 2L))
    spark.read.parquet(files.map(f => s"$table/$f"): _*)
      .collect().map(_.getLong(0)).toSet shouldBe Set(1L, 5L)
    // a statsless append cannot be skipped
    DeltaLite.write(spark, Seq((500L, 55L)).toDF("k", "v"), table)
    DeltaLite.planSkipping(spark, table, "k", 1L, 10L)._2 shouldBe 2L
    // stats survive the checkpoint round-trip
    DeltaLite.checkpoint(spark, table)
    DeltaLite.expireLog(spark, table)
    DeltaLite.planSkipping(spark, table, "k", 150L, 300L)._2 shouldBe 2L // file 2 + statsless
  }

  test("deleteWhere rewrites only stats-affected files; restore rolls forward") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_spec10")
    DeltaLite.write(spark,
      Seq((1L, 10L), (5L, 50L)).toDF("k", "v").coalesce(1), table,
      collectStats = true)
    DeltaLite.write(spark,
      Seq((100L, 11L), (200L, 22L)).toDF("k", "v").coalesce(1), table,
      collectStats = true)
    val (v, rewritten, deleted) = DeltaLite.deleteWhere(spark, table, "k", 5L, 150L)
    v shouldBe 2L
    rewritten shouldBe 2L // both files' ranges intersect [5, 150]
    deleted shouldBe 2L // keys 5 and 100
    DeltaLite.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Set((1L, 10L), (200L, 22L))
    // the rewritten files carry fresh stats: a disjoint range now skips both
    DeltaLite.planSkipping(spark, table, "k", 5L, 150L)._2 shouldBe 0L
    // pre-delete snapshot is intact (history preserved)
    DeltaLite.read(spark, table, versionAsOf = 1L).count() shouldBe 4L
    // a no-op delete touches nothing
    DeltaLite.deleteWhere(spark, table, "k", 1000L, 2000L)._2 shouldBe 0L
    // restore to the pre-delete version as a NEW commit
    val rv = DeltaLite.restore(spark, table, toVersion = 1L)
    rv shouldBe 3L
    DeltaLite.read(spark, table).count() shouldBe 4L
    DeltaLite.read(spark, table, versionAsOf = 2L).count() shouldBe 2L // history kept
  }

  test("empty snapshot after total overwrite keeps the committed schema") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_spec3")
    DeltaLite.write(spark, Seq((1L, "x")).toDF("k", "s"), table)
    DeltaLite.write(spark,
      Seq.empty[(Long, String)].toDF("k", "s"), table, overwrite = true)
    val df = DeltaLite.read(spark, table)
    df.count() shouldBe 0L
    df.schema.fieldNames.toSeq shouldBe Seq("k", "s")
  }

  test("commitIdempotent survives checkpoint + expireLog (txn ledger)") {
    import spark.implicits._
    // the r09 advisor scenario: expireLog deletes the JSON commits whose
    // staged-path markers were the dedup ledger; the SetTransaction rows
    // persisted into the checkpoint must still refuse the redelivery
    val table = Sinks.tempDir("delta_spec_txn")
    val b0 = Seq((1L, 10L)).toDF("k", "v")
    val b1 = Seq((2L, 20L)).toDF("k", "v")
    DeltaLite.commitIdempotent(spark, b0, table, batchId = 0L)
    DeltaLite.commitIdempotent(spark, b1, table, batchId = 1L)
    DeltaLite.checkpoint(spark, table)
    DeltaLite.expireLog(spark, table) shouldBe 1L // 0.json subsumed
    // redelivered batches 0 and 1 must both be refused post-expiry
    DeltaLite.commitIdempotent(spark, b0, table, batchId = 0L)
    DeltaLite.commitIdempotent(spark, b1, table, batchId = 1L)
    DeltaLite.read(spark, table).count() shouldBe 2L // no duplicates
    DeltaLite.latestVersion(spark, table) shouldBe 1L // no new commits
    // a genuinely NEW batch still lands
    DeltaLite.commitIdempotent(spark,
      Seq((3L, 30L)).toDF("k", "v"), table, batchId = 2L) shouldBe 2L
    DeltaLite.read(spark, table).count() shouldBe 3L
  }

  test("optimize: bin-packing compaction, one commit, rows identical") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_spec_opt")
    (0 until 4).foreach(i =>
      DeltaLite.write(spark,
        Seq((i.toLong, i * 10L)).toDF("k", "v").repartition(2), table))
    val beforeRows = DeltaLite.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val (v, nBefore, nAfter) = DeltaLite.optimize(spark, table)
    nBefore should be > nAfter
    nAfter shouldBe 1L
    v shouldBe 4L
    DeltaLite.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted shouldBe beforeRows
    // the commit is remove+add with dataChange=false (protocol OPTIMIZE)
    val lines = logLines(table, v)
    val m = new ObjectMapper()
    lines.count(_.contains("\"remove\"")) shouldBe nBefore
    lines.filter(l => l.contains("\"add\"") || l.contains("\"remove\""))
      .foreach { l =>
        val n = m.readTree(l)
        val act = if (n.has("add")) n.get("add") else n.get("remove")
        act.get("dataChange").asBoolean() shouldBe false
      }
    // compacted stats survive: skipping still prunes
    val (_, matched, total) =
      DeltaLite.planSkipping(spark, table, "k", 0L, 1L)
    total shouldBe 1L
    matched shouldBe 1L
    // the change feed sees OPTIMIZE as a no-op, not a refusal
    DeltaLite.readChanges(spark, table, v - 1, v).count() shouldBe 0L
    // time travel to the pre-optimize version still reads (files on disk)
    DeltaLite.read(spark, table, versionAsOf = v - 1).count() shouldBe 4L
  }

  test("partitioned table: partitionValues in adds, pruning, escaping") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_spec_part")
    // values that NEED escaping (':' and ' ') plus a null partition
    val df = Seq((1L, "a:1"), (2L, "a:1"), (3L, "b 2"), (4L, null))
      .toDF("k", "src")
    DeltaLite.writePartitioned(spark, df, table, "src")
    // v0 metaData declares the partition column
    val m = new ObjectMapper()
    val meta = logLines(table, 0L).find(_.contains("\"metaData\"")).get
    m.readTree(meta).get("metaData").get("partitionColumns")
      .get(0).asText() shouldBe "src"
    // every add carries partitionValues with the RAW (unescaped) value
    val pvs = logLines(table, 0L).filter(_.contains("\"add\"")).map { l =>
      val pv = m.readTree(l).get("add").get("partitionValues")
      if (pv.get("src").isNull) null else pv.get("src").asText()
    }
    pvs.toSet shouldBe Set("a:1", "b 2", null)
    // roundtrip: the full read returns all rows with raw values
    DeltaLite.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet shouldBe
      Set((1L, "a:1"), (2L, "a:1"), (3L, "b 2"), (4L, null))
    // pruning off the log alone, incl. escaped and null partitions
    val (files, n, total) =
      DeltaLite.planPartitioned(spark, table, "src", Set("a:1"))
    n shouldBe 1L
    total shouldBe 3L
    spark.read.parquet(files.map(f => s"$table/$f"): _*)
      .count() shouldBe 2L
    DeltaLite.planPartitioned(spark, table, "src",
      Set(null.asInstanceOf[String]))._2 shouldBe 1L
    // appends keep working and pvals survive a checkpoint
    DeltaLite.writePartitioned(spark,
      Seq((5L, "a:1")).toDF("k", "src"), table, "src")
    DeltaLite.checkpoint(spark, table)
    DeltaLite.expireLog(spark, table)
    DeltaLite.planPartitioned(spark, table, "src", Set("a:1"))._2 shouldBe 2L
  }

  test("multi-part checkpoint: spec names, parts pointer, reads + txn survive") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_spec_mpcp")
    DeltaLite.commitIdempotent(spark,
      Seq((1L, 10L)).toDF("k", "v"), table, batchId = 0L)
    (1 to 5).foreach(i =>
      DeltaLite.write(spark, Seq((i.toLong + 1, i * 10L)).toDF("k", "v"), table))
    DeltaLite.checkpoint(spark, table, parts = 3) shouldBe 5L
    DeltaLite.lastCheckpointParts(spark, table) shouldBe 3
    // the spec's part naming: %020d.checkpoint.%010d.%010d.parquet
    (1 to 3).foreach { i =>
      new java.io.File(table,
        f"_delta_log/${5L}%020d.checkpoint.$i%010d.${3}%010d.parquet")
        .isFile shouldBe true
    }
    DeltaLite.expireLog(spark, table) shouldBe 5L
    // reads assemble from ALL parts (6 rows across 3 part files)
    val (df, snap) = DeltaLite.readWithStats(spark, table)
    df.count() shouldBe 6L
    snap.checkpointVersion shouldBe 5L
    // the txn ledger survives the multi-part round-trip too
    DeltaLite.commitIdempotent(spark,
      Seq((1L, 10L)).toDF("k", "v"), table, batchId = 0L)
    DeltaLite.latestVersion(spark, table) shouldBe 5L // refused, no commit
    // a missing part means the checkpoint is unusable — full replay
    // would be needed, so the read must NOT half-use it: delete a part
    // and the snapshot falls back (here: fails, prefix is expired)
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(table,
      f"_delta_log/${5L}%020d.checkpoint.${2}%010d.${3}%010d.parquet"), false)
    an[Exception] should be thrownBy DeltaLite.read(spark, table)
  }

  test("partitioned exactly-once: redelivery no-ops, pruning + txn survive") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_spec_ptxn")
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("k", "src")
    val b1 = Seq((3L, "a")).toDF("k", "src")
    val v0 = DeltaLite.commitIdempotentPartitioned(spark, b0, table, "src", 0L)
    // redelivery returns the ORIGINAL version, writes nothing
    DeltaLite.commitIdempotentPartitioned(spark, b0, table, "src", 0L) shouldBe v0
    DeltaLite.commitIdempotentPartitioned(spark, b1, table, "src", 1L)
    DeltaLite.read(spark, table).count() shouldBe 3L
    // sink output is a REAL partitioned table: log-only pruning works
    val (files, n, total) =
      DeltaLite.planPartitioned(spark, table, "src", Set("a"))
    n shouldBe 2L // one 'a' file per batch
    total shouldBe 3L
    spark.read.parquet(files.map(f => s"$table/$f"): _*).count() shouldBe 2L
    // the txn ledger survives checkpoint + expireLog, as on the flat path
    DeltaLite.checkpoint(spark, table)
    DeltaLite.expireLog(spark, table)
    DeltaLite.commitIdempotentPartitioned(spark, b0, table, "src", 0L)
    DeltaLite.commitIdempotentPartitioned(spark, b1, table, "src", 1L)
    DeltaLite.read(spark, table).count() shouldBe 3L // still no duplicates
    DeltaLite.commitIdempotentPartitioned(spark,
      Seq((4L, "c")).toDF("k", "src"), table, "src", 2L)
    DeltaLite.read(spark, table).count() shouldBe 4L
    DeltaLite.planPartitioned(spark, table, "src", Set("c"))._2 shouldBe 1L
  }

  test("optimize on a partitioned table compacts WITHIN partitions") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_spec_popt")
    // two commits → 2 files per partition value ('a' ×2, 'b' ×2, 'c' ×1)
    DeltaLite.writePartitioned(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "src"), table, "src")
    DeltaLite.writePartitioned(spark,
      Seq((3L, "a"), (4L, "b"), (5L, "c")).toDF("k", "src"), table, "src")
    val beforeRows = DeltaLite.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    val (v, nBefore, nAfter) = DeltaLite.optimize(spark, table)
    nBefore shouldBe 5L
    nAfter shouldBe 3L // one file per partition value
    DeltaLite.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted shouldBe beforeRows
    // the layout SURVIVES: every live file still carries partitionValues
    // and log-only pruning works exactly as before the compaction
    val (files, n, total) =
      DeltaLite.planPartitioned(spark, table, "src", Set("a"))
    total shouldBe 3L
    n shouldBe 1L
    spark.read.parquet(files.map(f => s"$table/$f"): _*).count() shouldBe 2L
    DeltaLite.readChanges(spark, table, v - 1, v).count() shouldBe 0L
    // z-ordering a partitioned table is out of subset — refuses, never
    // silently destroys the layout
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.optimizeZorder(spark, table, "k", "k", 2)
  }

  test("optimizeZorder: box pruning works after re-clustering; rows identical") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_spec_zord")
    // a 64×64 grid hash-scattered across 4 files: before z-ordering every
    // file spans the full range on both dims, so a box prunes nothing
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y =>
      (x.toLong * 64 + y, x.toLong, y.toLong)))
    DeltaLite.write(spark,
      grid.toDF("id", "cx", "dy").repartition(4), table, collectStats = true)
    def boxFiles(): Int = {
      val (fx, _, _) = DeltaLite.planSkipping(spark, table, "cx", 0L, 7L)
      val (fy, _, _) = DeltaLite.planSkipping(spark, table, "dy", 0L, 7L)
      fx.toSet.intersect(fy.toSet).size
    }
    boxFiles() shouldBe 4 // hash layout: no pruning possible
    val (v, nBefore, nAfter) = DeltaLite.optimizeZorder(spark, table, "cx", "dy", 4)
    nBefore shouldBe 4L
    nAfter shouldBe 4L
    // z-ordered: the 8×8 corner box is a tiny z-range — 1 file, or 2 when
    // a SAMPLED range boundary straddles the corner cell; never all 4
    boxFiles() should be <= 2
    // rows byte-identical, commit is dataChange=false remove+add
    DeltaLite.read(spark, table).count() shouldBe 4096L
    DeltaLite.readChanges(spark, table, v - 1, v).count() shouldBe 0L
  }

  test("vacuum spares in-flight staging and files inside the grace window") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_spec_vgrace")
    DeltaLite.write(spark, Seq((1L, 10L)).toDF("k", "v"), table)
    DeltaLite.write(spark, Seq((2L, 20L)).toDF("k", "v"), table,
      overwrite = true) // tombstones v0's file
    // simulate a CONCURRENT writer: a staged-but-uncommitted directory
    // (write finished → no _temporary) and one mid-write (_temporary)
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((3L, 30L)).toDF("k", "v").write.parquet(s"$table/data/v9-zz-inflight")
    fs.mkdirs(new Path(s"$table/data/v9-yy-midwrite/_temporary"))
    val out = fs.create(new Path(s"$table/data/v9-yy-midwrite/part-0.parquet"))
    out.write(Array[Byte](1, 2, 3)); out.close()
    // grace window: only files older than graceMs are swept — the staged
    // writer's fresh files survive (1 h window: immune to suite-load
    // stalls between staging and this call)
    DeltaLite.vacuum(spark, table, graceMs = 3600000L) shouldBe 0L
    fs.exists(new Path(s"$table/data/v9-zz-inflight")) shouldBe true
    // zero grace still always spares a directory that is mid-write
    val deleted = DeltaLite.vacuum(spark, table)
    deleted should be >= 1L // v0's tombstoned file (+ the staged orphan)
    fs.exists(new Path(s"$table/data/v9-yy-midwrite/part-0.parquet")) shouldBe true
    DeltaLite.read(spark, table).count() shouldBe 1L
  }

  // ------------------------------------------------- deletion vectors

  test("roaring/Z85 byte formats round-trip: array, bitmap, multi-bucket") {
    import graft.sources.DeletionVectors._
    // array container (small sparse set)
    val small = Array(0L, 5L, 100L, 65535L, 65536L, 131071L)
    deserializeBitmap(serializeBitmap(small)).toSeq shouldBe small.toSeq
    // bitmap container: > 4096 positions inside one 16-bit chunk
    val dense = (0L until 5000L).map(_ * 13 % 65536).distinct.sorted.toArray
    dense.length should be > 4096
    deserializeBitmap(serializeBitmap(dense)).toSeq shouldBe dense.toSeq
    // multi-bucket: positions above 2^32 exercise the 64-bit array loop
    // (and the dense-gap rule: bucket 1 is empty but still serialized)
    val wide = Array(3L, 7L, (2L << 32) + 1, (2L << 32) + 99)
    deserializeBitmap(serializeBitmap(wide)).toSeq shouldBe wide.toSeq
    // Z85: uuid → 20 chars → same uuid, for many uuids
    (1 to 50).foreach { _ =>
      val u = java.util.UUID.randomUUID()
      val z = uuidToZ85(u)
      z.length shouldBe 20
      uuidFromZ85(z) shouldBe u
    }
  }

  test("DV delete: no rewrite, descriptor in log, merge on re-delete") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_dv0")
    val df = (0L until 100L).map(k => (k, k * 10)).toDF("k", "v")
    DeltaLite.write(spark, df.repartition(2), table, collectStats = true)
    val filesBefore = DeltaLite.readWithStats(spark, table)._2.files.toSet
    val (v1, nf1, del1) = DeltaLite.deleteWhereDV(spark, table, "k", 10L, 29L)
    del1 shouldBe 20L
    nf1 should be >= 1L
    // merge-on-read: the PHYSICAL file set is unchanged — that is the op
    DeltaLite.readWithStats(spark, table)._2.files.toSet shouldBe filesBefore
    DeltaLite.read(spark, table).count() shouldBe 80L
    DeltaLite.read(spark, table).agg(min($"k")).head.getLong(0) shouldBe 0L
    // time travel below the delete still sees all rows
    DeltaLite.read(spark, table, v1 - 1).count() shouldBe 100L
    // the log commit carries the table-features protocol + descriptor
    val lines = logLines(table, v1).map(mapper.readTree)
    val proto = lines.find(_.has("protocol")).get.get("protocol")
    proto.get("minReaderVersion").asInt() shouldBe 3
    proto.get("readerFeatures").get(0).asText() shouldBe "deletionVectors"
    val add = lines.find(_.has("add")).get.get("add")
    val dv = add.get("deletionVector")
    dv.get("storageType").asText() shouldBe "u"
    dv.get("pathOrInlineDv").asText().length shouldBe 20
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val uuid = graft.sources.DeletionVectors
      .uuidFromZ85(dv.get("pathOrInlineDv").asText())
    fs.exists(new Path(table, s"deletion_vector_$uuid.bin")) shouldBe true
    // overlapping second delete: only NEWLY deleted rows count (union)
    val (_, _, del2) = DeltaLite.deleteWhereDV(spark, table, "k", 20L, 39L)
    del2 shouldBe 10L // 30..39; 20..29 were already gone
    DeltaLite.read(spark, table).count() shouldBe 70L
    // re-deleting an already-deleted range is a version-preserving no-op
    val before = DeltaLite.latestVersion(spark, table)
    val (v3, nf3, del3) = DeltaLite.deleteWhereDV(spark, table, "k", 15L, 35L)
    (v3, nf3, del3) shouldBe ((before, 0L, 0L))
  }

  test("rewrites over live DVs keep rows deleted: optimize, zorder, copy-on-write delete") {
    import spark.implicits._
    // optimize: compaction must MERGE vectors, not resurrect their rows
    val t1 = Sinks.tempDir("delta_dv_opt")
    val df = (0L until 100L).map(k => (k, k * 10)).toDF("k", "v")
    DeltaLite.write(spark, df.repartition(2), t1, collectStats = true)
    DeltaLite.write(spark, df.select($"k" + 100L as "k", $"v").repartition(2),
      t1, collectStats = true)
    DeltaLite.deleteWhereDV(spark, t1, "k", 10L, 29L)
    val (_, _, nAfter) = DeltaLite.optimize(spark, t1, targetFiles = 1)
    nAfter shouldBe 1L
    val s1 = DeltaLite.readWithStats(spark, t1)._2
    s1.dvs shouldBe empty // vectors materialized away by the rewrite
    DeltaLite.read(spark, t1).count() shouldBe 180L
    DeltaLite.read(spark, t1).where($"k".between(10, 29)).count() shouldBe 0L
    // recomputed stats reflect LIVE rows (no stale numRecords)
    val totalRecs = s1.stats.values
      .map(js => mapper.readTree(js).get("numRecords").asLong()).sum
    totalRecs shouldBe 180L
    // ...and the protocol did NOT silently downgrade after the vectors
    // cleared: the checkpoint re-emits reader 3 / writer 7 verbatim
    val cpV = DeltaLite.checkpoint(spark, t1)
    val cp = spark.read.parquet(
      s"$t1/_delta_log/${"%020d".format(cpV)}.checkpoint.parquet")
    cp.where($"protocol".isNotNull).select("protocol.minReaderVersion")
      .head.getInt(0) shouldBe 3
    // zorder over a DV table: same merge contract
    val t2 = Sinks.tempDir("delta_dv_zord")
    DeltaLite.write(spark,
      (0L until 100L).map(k => (k, k % 7)).toDF("x", "y").repartition(2),
      t2, collectStats = true)
    DeltaLite.deleteWhereDV(spark, t2, "x", 0L, 9L)
    DeltaLite.optimizeZorder(spark, t2, "x", "y", targetFiles = 2)
    DeltaLite.read(spark, t2).count() shouldBe 90L
    DeltaLite.read(spark, t2).agg(min($"x")).head.getLong(0) shouldBe 10L
    // copy-on-write deleteWhere starting from a DV table: the rewritten
    // file must not resurrect the vector's rows
    val t3 = Sinks.tempDir("delta_dv_cow")
    DeltaLite.write(spark, (0L until 100L).map(k => (k, k)).toDF("k", "v")
      .repartition(1), t3, collectStats = true)
    DeltaLite.deleteWhereDV(spark, t3, "k", 0L, 9L)
    val (_, _, del) = DeltaLite.deleteWhere(spark, t3, "k", 90L, 99L)
    del shouldBe 10L
    DeltaLite.read(spark, t3).count() shouldBe 80L
    DeltaLite.read(spark, t3).agg(min($"k")).head.getLong(0) shouldBe 10L
  }

  test("column mapping: physical names in files, metadata-only rename/drop, guards") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_cm0")
    val df = (0L until 10L).map(k => (k, k * 10, s"s$k")).toDF("k", "v", "s")
    DeltaLite.writeColumnMapped(spark, df, table)
    // data files carry ONLY physical names
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFile = fs.listFiles(new Path(table, "data"), true)
    var physNames: Seq[String] = Nil
    while (dataFile.hasNext) {
      val p = dataFile.next().getPath
      if (p.getName.endsWith(".parquet"))
        physNames = spark.read.parquet(p.toString).schema.fieldNames.toSeq
    }
    physNames shouldBe Seq("col-1", "col-2", "col-3")
    // reads surface logical names; protocol is the legacy mapping pair
    DeltaLite.read(spark, table).schema.fieldNames.toSeq shouldBe Seq("k", "v", "s")
    DeltaLite.read(spark, table).agg(sum($"v")).head.getLong(0) shouldBe 450L
    val proto = logLines(table, 0L).map(mapper.readTree)
      .find(_.has("protocol")).get.get("protocol")
    proto.get("minReaderVersion").asInt() shouldBe 2
    proto.get("minWriterVersion").asInt() shouldBe 5
    // append maps by logical name; rename + drop move no data files
    DeltaLite.writeColumnMapped(spark,
      Seq((100L, 1000L, "x")).toDF("k", "v", "s"), table)
    val filesBefore = DeltaLite.readWithStats(spark, table)._2.files.toSet
    DeltaLite.renameColumn(spark, table, "v", "value")
    DeltaLite.dropColumn(spark, table, "s")
    DeltaLite.readWithStats(spark, table)._2.files.toSet shouldBe filesBefore
    DeltaLite.read(spark, table).schema.fieldNames.toSeq shouldBe Seq("k", "value")
    DeltaLite.read(spark, table).agg(sum($"value")).head.getLong(0) shouldBe 1450L
    // time travel below the rename reads that version's own names
    DeltaLite.read(spark, table, versionAsOf = 0L)
      .schema.fieldNames.toSeq shouldBe Seq("k", "v", "s")
    DeltaLite.read(spark, table, versionAsOf = 0L)
      .agg(sum($"v")).head.getLong(0) shouldBe 450L
    // logical-name data ops refuse rather than scan physical files wrong
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.write(spark, df, table)
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.optimize(spark, table)
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.deleteWhere(spark, table, "k", 0L, 1L)
    // rename/drop on an UNMAPPED table refuse (they'd require a rewrite)
    val plain = Sinks.tempDir("delta_cm_plain")
    DeltaLite.write(spark, df, plain)
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.renameColumn(spark, plain, "v", "value")
    // REORG purge: the dropped column's BYTES physically leave storage
    val (_, rewritten, after) = DeltaLite.reorgPurge(spark, table)
    rewritten should be >= 1L
    after shouldBe 1L
    val purgedFiles = DeltaLite.readWithStats(spark, table)._2.files
    purgedFiles.foreach { f =>
      spark.read.parquet(s"$table/$f").schema.fieldNames.toSeq shouldBe
        Seq("col-1", "col-2") // col-3 (dropped "s") is physically gone
    }
    DeltaLite.read(spark, table).agg(sum($"value")).head.getLong(0) shouldBe 1450L
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.reorgPurge(spark, plain) // unmapped tables use optimize()
  }

  test("CHECK constraints: write-time enforcement, existing-row validation, checkpoint survival") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_chk")
    DeltaLite.write(spark, (1L to 10L).map(k => (k, k * 10)).toDF("k", "v"), table)
    // a constraint current rows violate must not land
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.addConstraint(spark, table, "big_k", "k > 5")
    val cv = DeltaLite.addConstraint(spark, table, "pos_v", "v > 0")
    // the constraint commit carries the writer-3 protocol requirement
    val proto = logLines(table, cv).map(mapper.readTree)
      .find(_.has("protocol")).get.get("protocol")
    proto.get("minWriterVersion").asInt() shouldBe 3
    // valid rows commit; violating rows refuse BEFORE staging
    DeltaLite.write(spark, Seq((11L, 110L)).toDF("k", "v"), table)
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.write(spark, Seq((12L, -5L)).toDF("k", "v"), table)
    DeltaLite.read(spark, table).count() shouldBe 11L
    // constraints survive checkpoint + expireLog (configuration travels
    // in the checkpoint's metaData row)
    DeltaLite.checkpoint(spark, table)
    DeltaLite.expireLog(spark, table)
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.write(spark, Seq((13L, -1L)).toDF("k", "v"), table)
    DeltaLite.write(spark, Seq((13L, 130L)).toDF("k", "v"), table)
    DeltaLite.read(spark, table).count() shouldBe 12L
    // ...and survive a schema-evolution commit (configuration preserved)
    DeltaLite.write(spark, Seq((14L, 140L, "x")).toDF("k", "v", "s"), table)
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.write(spark, Seq((15L, -2L, "y")).toDF("k", "v", "s"), table)
  }

  test("generated columns: derive-on-omit, validate-on-provide, evolution + checkpoint survival") {
    import spark.implicits._
    val table = Sinks.tempDir("dl_gen")
    DeltaLite.write(spark,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v").withColumn("d", $"v" * 2L),
      table)
    // declaring over contradicting rows refuses
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.addGeneratedColumn(spark, table, "d", "v * 3")
    DeltaLite.addGeneratedColumn(spark, table, "d", "v * 2")
    // the protocol commit raises the writer requirement to 4
    logLines(table, 1L).exists(
      _.contains("\"minWriterVersion\":4")) shouldBe true
    // a batch OMITTING the column gets it computed
    DeltaLite.write(spark, Seq((3L, 30L)).toDF("k", "v"), table)
    DeltaLite.read(spark, table).where($"k" === 3L)
      .select("d").as[Long].collect() shouldBe Seq(60L)
    // a batch PROVIDING contradicting values refuses
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.write(spark,
        Seq((4L, 40L, 99L)).toDF("k", "v", "d"), table)
    // ...and providing CORRECT values commits (no spurious evolution:
    // the structural compare keeps the metadata-carrying table schema)
    DeltaLite.write(spark, Seq((4L, 40L, 80L)).toDF("k", "v", "d"), table)
    logLines(table, 3L).exists(_.contains("metaData")) shouldBe false
    // schema EVOLUTION re-grafts the generation expression onto the
    // unchanged field — enforcement survives the widened schema
    DeltaLite.write(spark,
      Seq((5L, 50L, "x")).toDF("k", "v", "extra"), table)
    DeltaLite.read(spark, table).where($"k" === 5L)
      .select("d").as[Long].collect() shouldBe Seq(100L)
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.write(spark,
        Seq((6L, 60L, 1L, "y")).toDF("k", "v", "d", "extra"), table)
    // declaration survives checkpoint + expireLog (schemaString replay
    // through the checkpoint's metaData row)
    DeltaLite.checkpoint(spark, table)
    DeltaLite.expireLog(spark, table)
    DeltaLite.write(spark, Seq((7L, 70L)).toDF("k", "v"), table)
    DeltaLite.read(spark, table).where($"k" === 7L)
      .select("d").as[Long].collect() shouldBe Seq(140L)
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.write(spark, Seq((8L, 80L, 7L)).toDF("k", "v", "d"), table)
    // UPDATE recomputes generated columns when a source moves, and
    // refuses to SET a generated column directly
    DeltaLite.updateWhere(spark, table, "k", 7L, 7L,
      Map("v" -> ($"v" + 5L)))
    DeltaLite.read(spark, table).where($"k" === 7L)
      .select("v", "d").as[(Long, Long)].collect() shouldBe Seq((75L, 150L))
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.updateWhere(spark, table, "k", 7L, 7L,
        Map("d" -> org.apache.spark.sql.functions.lit(0L)))
  }

  test("partitioned stats keyed per partition dir: same-basename files keep their own counts") {
    import spark.implicits._
    val table = Sinks.tempDir("dl_pstats")
    // one upstream partition → one task writes BOTH value dirs with the
    // same part-00000-<jobUuid> basename (the AQE-coalesced common case);
    // a basename-keyed stats map would collapse/swap the two files' stats
    DeltaLite.writePartitioned(spark,
      Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("cat", "v").coalesce(1),
      table, "cat", collectStats = true)
    val adds = logLines(table, 0L).filter(_.contains("\"add\""))
    adds should have size 2
    val counts = adds.map { l =>
      val n = mapper.readTree(l).get("add")
      (n.get("partitionValues").get("cat").asText(),
        mapper.readTree(n.get("stats").asText()).get("numRecords").asLong())
    }.toMap
    counts shouldBe Map("a" -> 2L, "b" -> 1L)
  }

  test("append-only: removes refuse, appends and dataChange=false rewrites stay legal") {
    import spark.implicits._
    val table = Sinks.tempDir("dl_ao")
    DeltaLite.write(spark, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), table,
      collectStats = true)
    DeltaLite.setAppendOnly(spark, table)
    DeltaLite.write(spark, Seq((3L, 30L)).toDF("k", "v"), table,
      collectStats = true)
    an[UnsupportedOperationException] should be thrownBy
      DeltaLite.deleteWhere(spark, table, "k", 1L, 1L)
    an[UnsupportedOperationException] should be thrownBy
      DeltaLite.deleteWhereDV(spark, table, "k", 1L, 1L)
    an[UnsupportedOperationException] should be thrownBy
      DeltaLite.updateWhere(spark, table, "k", 1L, 1L,
        Map("v" -> org.apache.spark.sql.functions.lit(0L)))
    an[UnsupportedOperationException] should be thrownBy
      DeltaLite.write(spark, Seq((9L, 90L)).toDF("k", "v"), table,
        overwrite = true)
    an[UnsupportedOperationException] should be thrownBy
      DeltaLite.restore(spark, table, 0L)
    // dataChange=false rewrites stay legal
    DeltaLite.optimize(spark, table)
    DeltaLite.vacuum(spark, table)
    DeltaLite.read(spark, table).select("k").as[Long].collect().sorted shouldBe
      Seq(1L, 2L, 3L)
    // the property survives checkpoint + expireLog (configuration replay)
    DeltaLite.checkpoint(spark, table)
    DeltaLite.expireLog(spark, table)
    an[UnsupportedOperationException] should be thrownBy
      DeltaLite.deleteWhere(spark, table, "k", 1L, 1L)
  }

  test("DV delete drops a file whose every row is deleted") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_dv_full")
    // two files split by range: k<50 and k>=50
    DeltaLite.write(spark,
      (0L until 50L).map(k => (k, k)).toDF("k", "v"), table,
      collectStats = true)
    DeltaLite.write(spark,
      (50L until 100L).map(k => (k, k)).toDF("k", "v"), table,
      collectStats = true)
    val (_, _, del) = DeltaLite.deleteWhereDV(spark, table, "k", 0L, 49L)
    del shouldBe 50L
    val snap = DeltaLite.readWithStats(spark, table)._2
    // the fully-deleted file is REMOVED, not carried with a full vector
    snap.dvs shouldBe empty
    DeltaLite.read(spark, table).count() shouldBe 50L
  }

  test("DV state survives checkpoint + expireLog; restore resurrects") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_dv_cp")
    // hash-repartition so every file holds a MIX of key ranges — the
    // delete below must leave partial vectors, not drop whole files
    DeltaLite.write(spark,
      (0L until 40L).map(k => (k, k % 7)).toDF("k", "v").repartition(2),
      table, collectStats = true)
    val (v1, _, _) = DeltaLite.deleteWhereDV(spark, table, "k", 0L, 9L)
    DeltaLite.checkpoint(spark, table)
    DeltaLite.expireLog(spark, table)
    // the replay is now checkpoint-only — the vector must live there
    val (df, snap) = DeltaLite.readWithStats(spark, table)
    snap.checkpointVersion shouldBe v1
    snap.dvs should not be empty
    df.count() shouldBe 30L
    // a second delete extends the vectors; restore to the checkpointed
    // version must resurrect its rows by re-adding the SAME physical
    // files with v1's (smaller) vectors
    DeltaLite.deleteWhereDV(spark, table, "k", 10L, 14L)
    DeltaLite.read(spark, table).count() shouldBe 25L
    DeltaLite.restore(spark, table, v1)
    DeltaLite.read(spark, table).count() shouldBe 30L
    DeltaLite.readWithStats(spark, table)._2.dvs shouldBe snap.dvs
  }

  test("vacuum reclaims superseded DV files, keeps the live vector") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_dv_vac")
    // ONE data file, so the second vector provably supersedes the first
    DeltaLite.write(spark,
      (0L until 30L).map(k => (k, k)).toDF("k", "v").coalesce(1), table,
      collectStats = true)
    DeltaLite.deleteWhereDV(spark, table, "k", 0L, 4L)
    DeltaLite.deleteWhereDV(spark, table, "k", 10L, 14L) // supersedes DV #1
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dvFiles = fs.listStatus(new Path(table))
      .map(_.getPath.getName).filter(_.startsWith("deletion_vector_")).toSet
    dvFiles.size shouldBe 2
    DeltaLite.vacuum(spark, table) should be >= 1L
    dvFiles.size shouldBe 1
    DeltaLite.read(spark, table).count() shouldBe 20L
  }

  test("a protocol readerFeature we don't implement refuses every read") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_dv_feat")
    DeltaLite.write(spark, Seq((1L, 1L)).toDF("k", "v"), table)
    // hand-write a v1 commit upgrading to a feature this reader lacks
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(table, "_delta_log/" + f"${1L}%020d.json")
    val out = fs.create(p, false)
    out.write(
      ("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["typeWidening"],"writerFeatures":["typeWidening"]}}""" + "\n")
        .getBytes("UTF-8"))
    out.close()
    val e = intercept[UnsupportedOperationException] {
      DeltaLite.read(spark, table).count()
    }
    e.getMessage should include("typeWidening")
  }

  test("CDF: derived inserts, cdc deletes/updates, pre/postimage pairs") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_cdf_spec")
    DeltaLite.write(spark,
      (1L to 10L).map(k => (k, k * 10L)).toDF("k", "v"), table,
      collectStats = true)                                        // v0
    // feed not enabled yet — readCdf refuses
    intercept[IllegalArgumentException] {
      DeltaLite.readCdf(spark, table, 0L, 0L)
    }
    DeltaLite.enableCdf(spark, table) shouldBe 1L                 // v1
    DeltaLite.enableCdf(spark, table) shouldBe 1L                 // idempotent
    // legacy protocol upgraded to writer 4
    val proto = logLines(table, 1L).map(mapper.readTree)
      .find(_.has("protocol")).get.get("protocol")
    proto.get("minWriterVersion").asInt() shouldBe 4
    DeltaLite.write(spark,
      (11L to 13L).map(k => (k, k * 10L)).toDF("k", "v"), table,
      collectStats = true)                                        // v2
    DeltaLite.deleteWhere(spark, table, "k", 1L, 3L)              // v3
    DeltaLite.updateWhere(spark, table, "k", 11L, 12L,
      Map("v" -> (col("v") + lit(1L))))                           // v4
    val feed = DeltaLite.readCdf(spark, table, 1L, 4L)
      .select("k", "v", "_change_type", "_commit_version")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    feed shouldBe Set(
      (11L, 110L, "insert", 2L), (12L, 120L, "insert", 2L),
      (13L, 130L, "insert", 2L),
      (1L, 10L, "delete", 3L), (2L, 20L, "delete", 3L),
      (3L, 30L, "delete", 3L),
      (11L, 110L, "update_preimage", 4L), (12L, 120L, "update_preimage", 4L),
      (11L, 111L, "update_postimage", 4L),
      (12L, 121L, "update_postimage", 4L))
    // the cdc actions are dataChange=false and invisible to snapshot state
    DeltaLite.read(spark, table).count() shouldBe 10L
    // update really landed in the table
    DeltaLite.read(spark, table).where($"k" === 11L).select("v")
      .head().getLong(0) shouldBe 111L
  }

  test("CDF: overwrite derives insert+delete; DV delete feeds only newly-masked rows") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_cdf_dv")
    DeltaLite.write(spark,
      (1L to 8L).map(k => (k, k)).toDF("k", "v"), table,
      collectStats = true)                                        // v0
    DeltaLite.enableCdf(spark, table)                             // v1
    // DV delete on a CDF table: cdc carries rows 1-2; protocol keeps both
    DeltaLite.deleteWhereDV(spark, table, "k", 1L, 2L)            // v2
    val proto = logLines(table, 2L).map(mapper.readTree)
      .find(_.has("protocol")).get.get("protocol")
    val wf = scala.jdk.CollectionConverters.IteratorHasAsScala(
      proto.get("writerFeatures").elements()).asScala.map(_.asText()).toSet
    wf shouldBe Set("deletionVectors", "changeDataFeed")
    // re-delete an overlapping range: only k=3 is NEWLY masked
    DeltaLite.deleteWhereDV(spark, table, "k", 1L, 3L)            // v3
    val feed = DeltaLite.readCdf(spark, table, 1L, 3L)
      .select("k", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    feed shouldBe Set(
      (1L, "delete", 2L), (2L, "delete", 2L), (3L, "delete", 3L))
    // an overwrite derives: every old live row deletes, new rows insert
    DeltaLite.write(spark, Seq((99L, 99L)).toDF("k", "v"), table,
      overwrite = true)                                           // v4
    val ow = DeltaLite.readCdf(spark, table, 3L, 4L)
      .select("k", "_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // the overwrite's removed file carried a DV masking k=1..3 — those
    // rows were already dead and must NOT resurrect in the feed; only
    // the LIVE rows 4..8 delete
    ow shouldBe Set((99L, "insert"), (4L, "delete"), (5L, "delete"),
      (6L, "delete"), (7L, "delete"), (8L, "delete"))
  }

  test("CDF guards: update honors constraints") {
    import spark.implicits._
    // CHECK constraints gate updateWhere like any writer
    val t2 = Sinks.tempDir("delta_cdf_chk")
    DeltaLite.write(spark, (1L to 5L).map(k => (k, k)).toDF("k", "v"), t2,
      collectStats = true)
    DeltaLite.addConstraint(spark, t2, "pos_v", "v > 0")
    intercept[IllegalArgumentException] {
      DeltaLite.updateWhere(spark, t2, "k", 1L, 2L,
        Map("v" -> lit(-5L)))
    }
  }

  test("column mapping id mode: footer field ids, id-resolution, rename then widen") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_cm_id")
    DeltaLite.writeColumnMapped(spark,
      (0L until 5L).map(k => (k, k * 10L)).toDF("k", "v"), table,
      mode = "id") // v0
    // mode declared in configuration
    val meta0 = logLines(table, 0L).map(mapper.readTree)
      .find(_.has("metaData")).get.get("metaData")
    meta0.get("configuration").get("delta.columnMapping.mode")
      .asText() shouldBe "id"
    // data files carry parquet FIELD IDS equal to the delta column ids
    val fs = new Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new Path(table, "data"), true)
    var allFiles = Vector.empty[String]
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet")) allFiles :+= p.toString
    }
    val file0 = allFiles.head
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      spark.sparkContext.hadoopConfiguration,
      new Path(file0),
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    val ids = footer.getFileMetaData.getSchema.getFields
    ids.get(0).getId.intValue() shouldBe 1
    ids.get(1).getId.intValue() shouldBe 2
    // ID RESOLUTION: read under deliberately WRONG physical names whose
    // field ids match — values still land correctly (name mode could
    // not do this; the parquet reader binds the footer ids)
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    try {
      val idSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("totally", org.apache.spark.sql.types.LongType,
          nullable = true, metadata = new org.apache.spark.sql.types
            .MetadataBuilder().putLong("parquet.field.id", 2L).build()),
        org.apache.spark.sql.types.StructField("wrong", org.apache.spark.sql.types.LongType,
          nullable = true, metadata = new org.apache.spark.sql.types
            .MetadataBuilder().putLong("parquet.field.id", 1L).build())))
      spark.read.schema(idSchema).parquet(allFiles: _*)
        .agg(sum($"totally"), sum($"wrong")).as[(Long, Long)]
        .head() shouldBe ((100L, 10L)) // id 2 = v (sum 100), id 1 = k
    } finally spark.conf.unset("spark.sql.parquet.fieldId.read.enabled")
    // rename (metadata-only, mode PRESERVED) then WIDENING append
    DeltaLite.renameColumn(spark, table, "v", "value") // v1
    val meta1 = logLines(table, 1L).map(mapper.readTree)
      .find(_.has("metaData")).get.get("metaData")
    meta1.get("configuration").get("delta.columnMapping.mode")
      .asText() shouldBe "id"
    DeltaLite.writeColumnMapped(spark,
      Seq((100L, 1000L, "fresh")).toDF("k", "value", "note"), table) // v2
    // current read: renamed + widened; old files surface note as NULL
    val cur = DeltaLite.read(spark, table)
    cur.schema.fieldNames.toSeq shouldBe Seq("k", "value", "note")
    cur.agg(sum($"value")).head.getLong(0) shouldBe 1100L
    cur.where($"note".isNull).count() shouldBe 5L
    cur.where($"note" === "fresh").select("k").as[Long]
      .collect() shouldBe Seq(100L)
    // the widened column got the next id and physical name
    val meta2 = logLines(table, 2L).map(mapper.readTree)
      .find(_.has("metaData")).get.get("metaData")
    meta2.get("configuration").get("delta.columnMapping.maxColumnId")
      .asText() shouldBe "3"
    meta2.get("configuration").get("delta.columnMapping.mode")
      .asText() shouldBe "id"
    // time travel: below the widen sees two columns under the renamed
    // name; below the rename sees the original name
    DeltaLite.read(spark, table, versionAsOf = 1L)
      .schema.fieldNames.toSeq shouldBe Seq("k", "value")
    DeltaLite.read(spark, table, versionAsOf = 0L)
      .schema.fieldNames.toSeq shouldBe Seq("k", "v")
    // appends must still present every existing column with its type
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.writeColumnMapped(spark,
        Seq((1L, "x")).toDF("k", "note"), table) // missing `value`
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.writeColumnMapped(spark,
        Seq((1L, 1.5, "x")).toDF("k", "value", "note"), table) // type
  }

  test("domain metadata: newest-wins replay, tombstone removal, survival through both checkpoint shapes") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_domain")
    DeltaLite.write(spark, Seq((1L, 10L)).toDF("k", "v"), table)   // v0
    DeltaLite.domainMetadata(spark, table) shouldBe empty
    DeltaLite.setDomainMetadata(spark, table,
      "graft.clustering", """{"cols":["k"]}""") shouldBe 1L
    // first use raised the protocol with the writer-only feature
    val proto = logLines(table, 1L).map(mapper.readTree)
      .find(_.has("protocol")).get.get("protocol")
    proto.get("minWriterVersion").asInt() shouldBe 7
    var wf = Set.empty[String]
    proto.get("writerFeatures").forEach(f => wf += f.asText())
    wf should contain ("domainMetadata")
    // newest wins per domain; a second domain coexists; no re-upgrade
    DeltaLite.setDomainMetadata(spark, table,
      "graft.clustering", """{"cols":["v"]}""")                    // v2
    logLines(table, 2L).count(_.contains("protocol")) shouldBe 0
    DeltaLite.setDomainMetadata(spark, table, "graft.audit", "on") // v3
    DeltaLite.domainMetadata(spark, table) shouldBe Map(
      "graft.clustering" -> """{"cols":["v"]}""", "graft.audit" -> "on")
    // time travel reads that version's own domain state
    DeltaLite.domainMetadata(spark, table, versionAsOf = 1L) shouldBe Map(
      "graft.clustering" -> """{"cols":["k"]}""")
    // tombstone removal; absent domain refuses
    DeltaLite.removeDomainMetadata(spark, table, "graft.audit")    // v4
    DeltaLite.domainMetadata(spark, table).keySet shouldBe Set("graft.clustering")
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.removeDomainMetadata(spark, table, "graft.audit")
    // classic checkpoint carries LIVE domains only; expireLog keeps them
    DeltaLite.checkpoint(spark, table)
    DeltaLite.expireLog(spark, table)
    DeltaLite.domainMetadata(spark, table) shouldBe Map(
      "graft.clustering" -> """{"cols":["v"]}""")
    // V2 checkpoint carries them in its control-plane file
    DeltaLite.write(spark, Seq((2L, 20L)).toDF("k", "v"), table)
    DeltaLite.checkpointV2(spark, table)
    DeltaLite.expireLog(spark, table)
    DeltaLite.domainMetadata(spark, table) shouldBe Map(
      "graft.clustering" -> """{"cols":["v"]}""")
    DeltaLite.read(spark, table).count() shouldBe 2L
  }

  test("shallow clone: zero-copy absolute adds, clone-local DML, source never written, vacuum cannot reach source files") {
    import spark.implicits._
    val src = Sinks.tempDir("delta_clone_src")
    val dst = Sinks.tempDir("delta_clone_dst")
    DeltaLite.write(spark,
      (1L to 8L).map(k => (k, k * 10L)).toDF("k", "v").coalesce(1), src,
      collectStats = true)
    DeltaLite.write(spark, Seq((9L, 90L)).toDF("k", "v"), src)
    val srcFilesBefore = DeltaLite.read(spark, src)
      .select(input_file_name()).distinct().count()
    DeltaLite.shallowClone(spark, src, dst) shouldBe 0L
    // the clone answers identically — through the SOURCE's bytes
    DeltaLite.read(spark, dst).orderBy("k").as[(Long, Long)].collect() shouldBe
      DeltaLite.read(spark, src).orderBy("k").as[(Long, Long)].collect()
    // zero copy: no data files under dst
    val fs = new Path(dst).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(dst, "data")) shouldBe false
    // add actions reference the source absolutely; fresh table id
    val adds0 = logLines(dst, 0L).map(mapper.readTree).filter(_.has("add"))
    adds0 should not be empty
    adds0.foreach(_.get("add").get("path").asText() should startWith ("/"))
    val srcId = logLines(src, 0L).map(mapper.readTree)
      .find(_.has("metaData")).get.get("metaData").get("id").asText()
    logLines(dst, 0L).map(mapper.readTree).find(_.has("metaData")).get
      .get("metaData").get("id").asText() should not be srcId
    // clone-local append: dst grows, src untouched
    DeltaLite.write(spark, Seq((100L, 1000L)).toDF("k", "v"), dst)
    DeltaLite.read(spark, dst).count() shouldBe 10L
    DeltaLite.read(spark, src).count() shouldBe 9L
    // copy-on-write DML on the clone rewrites into ITS OWN dir; the
    // source's files and answers are untouched
    DeltaLite.deleteWhere(spark, dst, "k", 1L, 3L)
    DeltaLite.read(spark, dst).count() shouldBe 7L
    DeltaLite.read(spark, src).count() shouldBe 9L
    DeltaLite.read(spark, src)
      .select(input_file_name()).distinct().count() shouldBe srcFilesBefore
    // stats carried: skipping still plans on the clone's absolute adds
    DeltaLite.read(spark, dst, versionAsOf = 0L).count() shouldBe 9L
    // the clone's vacuum walks only its own tree — source files are
    // structurally unreachable
    DeltaLite.vacuum(spark, dst)
    DeltaLite.read(spark, src).count() shouldBe 9L
    // refusals: DV-carrying and column-mapped sources
    val dvSrc = Sinks.tempDir("delta_clone_dv")
    DeltaLite.write(spark,
      (0L until 10L).map(k => (k, k)).toDF("k", "v").coalesce(1), dvSrc)
    DeltaLite.deleteWhereDV(spark, dvSrc, "k", 0L, 2L)
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.shallowClone(spark, dvSrc, Sinks.tempDir("delta_clone_dv_d"))
    val cmSrc = Sinks.tempDir("delta_clone_cm")
    DeltaLite.writeColumnMapped(spark, Seq((1L, 2L)).toDF("k", "v"), cmSrc)
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.shallowClone(spark, cmSrc, Sinks.tempDir("delta_clone_cm_d"))
  }

  test("in-commit timestamps: the arbiter stamps every later commit monotonically; TIMESTAMP AS OF resolves through them") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_ict")
    DeltaLite.write(spark, Seq((1L, 10L)).toDF("k", "v"), table)   // v0
    DeltaLite.write(spark, Seq((2L, 20L)).toDF("k", "v"), table)   // v1
    // pre-enablement commits carry no stamp
    DeltaLite.ictLedger(spark, table) shouldBe empty
    DeltaLite.enableInCommitTimestamps(spark, table,
      now = 1000000L) shouldBe 2L                                  // v2
    DeltaLite.enableInCommitTimestamps(spark, table) shouldBe 2L   // idem
    // protocol: writer-only feature — reader version untouched
    val proto = logLines(table, 2L).map(mapper.readTree)
      .find(_.has("protocol")).get.get("protocol")
    proto.get("minReaderVersion").asInt() shouldBe 1
    proto.get("minWriterVersion").asInt() shouldBe 7
    var wf = Set.empty[String]
    proto.get("writerFeatures").forEach(f => wf += f.asText())
    wf should contain ("inCommitTimestamp")
    // provenance pair recorded
    val conf = logLines(table, 2L).map(mapper.readTree)
      .find(_.has("metaData")).get.get("metaData").get("configuration")
    conf.get("delta.inCommitTimestampEnablementVersion").asText() shouldBe "2"
    conf.get("delta.inCommitTimestampEnablementTimestamp")
      .asText() shouldBe "1000000"
    // EVERY later commit is stamped by the arbiter, strictly increasing,
    // with commitInfo as the commit's first action
    DeltaLite.write(spark, Seq((3L, 30L)).toDF("k", "v"), table)   // v3
    DeltaLite.deleteWhere(spark, table, "k", 1L, 1L)               // v4
    val ledger = DeltaLite.ictLedger(spark, table)
    ledger.map(_._1) shouldBe Seq(2L, 3L, 4L)
    ledger.map(_._2) shouldBe ledger.map(_._2).sorted
    ledger.map(_._2).distinct.length shouldBe 3
    ledger.head._2 shouldBe 1000000L
    logLines(table, 3L).head should include ("commitInfo")
    // timestamp time travel resolves through the stamps
    val ict3 = ledger.find(_._1 == 3L).get._2
    val ict4 = ledger.find(_._1 == 4L).get._2
    DeltaLite.readTimestampAsOf(spark, table, ict3).count() shouldBe 3L
    DeltaLite.readTimestampAsOf(spark, table, ict4 - 1).count() shouldBe 3L
    DeltaLite.readTimestampAsOf(spark, table, ict4 + 1000L).count() shouldBe 2L
    // below the first retained stamp: refuse, never guess off file mtimes
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.readTimestampAsOf(spark, table, 999999L)
    // monotonicity survives checkpoint + expireLog: the pointer carries
    // the last stamp and the next commit re-anchors on it
    DeltaLite.checkpoint(spark, table)
    val fs = new Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val lcIn = fs.open(new Path(table, "_delta_log/_last_checkpoint"))
    val lcText = try scala.io.Source.fromInputStream(lcIn).mkString
      finally lcIn.close()
    lcText should include (""""ict":""")
    DeltaLite.expireLog(spark, table)
    DeltaLite.write(spark, Seq((9L, 90L)).toDF("k", "v"), table)   // v5
    val after = DeltaLite.ictLedger(spark, table)
    after.last._1 shouldBe 5L
    after.last._2 should be > ict4
  }

  test("V2 checkpoint: sidecars carry the adds, expired log replays exactly, missing sidecar fails the read") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_cp_v2")
    DeltaLite.write(spark,
      (0L until 20L).map(k => (k, k * 10L)).toDF("k", "v").coalesce(1),
      table, collectStats = true)                                  // v0
    DeltaLite.write(spark,
      (20L until 40L).map(k => (k, k * 10L)).toDF("k", "v").coalesce(1),
      table, collectStats = true)                                  // v1
    DeltaLite.deleteWhereDV(spark, table, "k", 0L, 4L)             // v2 + DV
    // protocol lacks v2Checkpoint → the checkpoint lands AFTER its own
    // upgrade commit (v3), never outrunning the table's declaration
    val v = DeltaLite.checkpointV2(spark, table, sidecars = 2)
    v shouldBe 3L
    DeltaLite.lastCheckpointVersion(spark, table) shouldBe 3L
    val fs = new Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // shape: ONE uuid-named top-level file + exactly 2 sidecars
    val tops = fs.listStatus(new Path(table, "_delta_log"))
      .map(_.getPath.getName)
      .filter(n => n.startsWith("00000000000000000003.checkpoint.") &&
        n.endsWith(".parquet"))
    tops.length shouldBe 1
    val scDir = new Path(table, "_delta_log/_sidecars")
    val sidecars = fs.listStatus(scDir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    sidecars.length shouldBe 2
    // the top-level file holds NO add actions — they live in sidecars
    val top = spark.read.parquet(
      new Path(new Path(table, "_delta_log"), tops.head).toString)
    top.where(col("add").isNotNull).count() shouldBe 0L
    top.where(col("checkpointMetadata").isNotNull)
      .select("checkpointMetadata.version").as[Long].head() shouldBe 3L
    top.where(col("sidecar").isNotNull).count() shouldBe 2L
    // expire the JSON prefix: state must now come from checkpoint+sidecars
    DeltaLite.expireLog(spark, table) shouldBe 3L
    val (df, snap) = DeltaLite.readWithStats(spark, table)
    snap.checkpointVersion shouldBe 3L
    df.agg(count(lit(1)), sum($"v")).as[(Long, Long)].head() shouldBe
      ((35L, (5L until 40L).map(_ * 10L).sum)) // DV still masks k<5
    // stats replayed from the sidecar add rows → skipping still prunes
    val (_, matched, total) = DeltaLite.planSkipping(spark, table, "k", 25L, 30L)
    (matched, total) shouldBe ((1L, 2L))
    // re-checkpoint on an upgraded table: no second protocol commit
    DeltaLite.write(spark, Seq((100L, 1000L)).toDF("k", "v"), table) // v4
    DeltaLite.checkpointV2(spark, table) shouldBe 4L
    DeltaLite.read(spark, table).count() shouldBe 36L
    // a sidecar vanishing FAILS the read outright — no partial snapshot
    DeltaLite.expireLog(spark, table)
    fs.listStatus(scDir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .foreach(p => fs.delete(p, false))
    val e = intercept[IllegalArgumentException] {
      DeltaLite.read(spark, table).count()
    }
    e.getMessage should include("sidecar")
  }

  test("partitioned CDF: enable keeps partitionColumns, deletePartition feeds, pruning never opens other partitions") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_cdf_part_on")
    DeltaLite.writePartitioned(spark,
      Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "c"))
        .toDF("k", "src"), table, "src")
    DeltaLite.enableCdf(spark, table) // v1 — now legal on partitioned
    // metaData re-declaration must RETAIN partitionColumns…
    val m = new ObjectMapper()
    val metaLine = logLines(table, 1L).find(_.contains("\"metaData\"")).get
    m.readTree(metaLine).get("metaData").get("partitionColumns")
      .get(0).asText() shouldBe "src"
    // …so partitioned appends keep working after the enable
    DeltaLite.writePartitioned(spark,
      Seq((6L, "a"), (7L, "b")).toDF("k", "src"), table, "src") // v2
    val (v3, nFiles, nRows) = DeltaLite.deletePartition(spark, table, "src", "b")
    v3 shouldBe 3L
    nFiles shouldBe 2L // one file per commit for value b
    nRows shouldBe 3L  // keys 3, 4, 7
    DeltaLite.read(spark, table).select("k").as[Long].collect()
      .sorted shouldBe Seq(1L, 2L, 5L, 6L)
    // the cdc actions record the partition value
    val cdcNodes = logLines(table, 3L).map(m.readTree).filter(_.has("cdc"))
    cdcNodes should not be empty
    all(cdcNodes.map(_.get("cdc").get("partitionValues")
      .get("src").asText())) shouldBe "b"
    // full feed: v2 derived inserts + v3 partition delete
    val feed = DeltaLite.readCdf(spark, table, 1L, 3L)
    feed.where($"_change_type" === "delete").select("k").as[Long]
      .collect().sorted shouldBe Seq(3L, 4L, 7L)
    // pruned feed for src=a: only a's insert survives, no deletes
    val aFeed = DeltaLite.readCdf(spark, table, 1L, 3L, Map("src" -> "a"))
    aFeed.select("k", "_change_type").as[(Long, String)].collect()
      .sorted shouldBe Seq((6L, "insert"))
    // PROOF the pruned read never opens other partitions' change files:
    // destroy b's change data on disk — the pruned read still answers,
    // the unpruned read (which must open it) now fails
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val cdcDir = fs.listStatus(new org.apache.hadoop.fs.Path(
      table, "_change_data")).head.getPath
    fs.delete(cdcDir, true)
    DeltaLite.readCdf(spark, table, 1L, 3L, Map("src" -> "a"))
      .count() shouldBe 1L
    intercept[Exception] {
      DeltaLite.readCdf(spark, table, 1L, 3L).count()
    }
  }

  test("partitioned CDF: row filter catches undecided change files; checkpoint keeps partitionColumns") {
    import spark.implicits._
    // row-level deleteWhere on a partitioned CDF table stages change
    // data WITHOUT partitionValues (it can span partitions): a pruned
    // read must row-filter it, not skip it and not over-return
    val table = Sinks.tempDir("delta_cdf_part_row")
    DeltaLite.writePartitioned(spark,
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "src"),
      table, "src", collectStats = true)
    DeltaLite.enableCdf(spark, table) // v1
    DeltaLite.deleteWhere(spark, table, "k", 2L, 3L) // v2, spans a and b
    DeltaLite.readCdf(spark, table, 1L, 2L, Map("src" -> "a"))
      .select("k", "_change_type").as[(Long, String)].collect()
      .sorted shouldBe Seq((2L, "delete"))
    DeltaLite.readCdf(spark, table, 1L, 2L, Map("src" -> "b"))
      .select("k").as[Long].collect() shouldBe Seq(3L)
    // partitionColumns survive checkpoint + expireLog (metaData row)
    DeltaLite.checkpoint(spark, table)
    DeltaLite.expireLog(spark, table)
    DeltaLite.writePartitioned(spark,
      Seq((9L, "c")).toDF("k", "src"), table, "src")
    DeltaLite.read(spark, table).select("k").as[Long].collect()
      .sorted shouldBe Seq(1L, 9L)
    DeltaLite.planPartitioned(spark, table, "src", Set("c"))._2 shouldBe 1L
  }

  test("partition values containing path-escaped chars keep their stats") {
    import spark.implicits._
    // 'a%1' escapes to _p=a%251 on disk; input_file_name() double-escapes
    // the literal '%' (a%25251) while listStatus is raw — decoding BOTH
    // sides once used to diverge the stats keys and silently drop the
    // file's numRecords/min/max (r11 advisor finding)
    val table = Sinks.tempDir("delta_spec_pct_stats")
    DeltaLite.writePartitioned(spark,
      Seq((1L, "a%1"), (2L, "a%1"), (3L, "b=2")).toDF("k", "src"),
      table, "src", collectStats = true)
    val adds = logLines(table, 0L).map(mapper.readTree).filter(_.has("add"))
    adds should not be empty
    all(adds.map(_.get("add").has("stats"))) shouldBe true
    adds.map(a => mapper.readTree(a.get("add").get("stats").asText())
      .get("numRecords").asLong()).sum shouldBe 3L
  }

  test("mergeInto: O(touched) rewrite — untouched files carried live, stats-planned, ambiguity refuses") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_merge_fg")
    // three key-disjoint files with stats: [1..10], [11..20], [21..30]
    DeltaLite.write(spark, (1L to 10L).map(k => (k, k)).toDF("k", "v")
      .coalesce(1), table, collectStats = true)                       // v0
    DeltaLite.write(spark, (11L to 20L).map(k => (k, k)).toDF("k", "v")
      .coalesce(1), table, collectStats = true)                       // v1
    DeltaLite.write(spark, (21L to 30L).map(k => (k, k)).toDF("k", "v")
      .coalesce(1), table, collectStats = true)                       // v2
    val before = DeltaLite.snapshotAt(spark, table).files
    before.size shouldBe 3
    // source touches ONLY the middle file: update 12, delete 15, insert 99
    val src = Seq((12L, 120L, "U"), (15L, 15L, "D"), (99L, 99L, "U"))
      .toDF("k", "v", "op")
    val (v, nUpd, nDel, nIns) = DeltaLite.mergeInto(spark, table, src, "k",
      deleteWhen = Some(col("op") === "D"))
    (v, nUpd, nDel, nIns) shouldBe (3L, 1L, 1L, 1L)
    val after = DeltaLite.snapshotAt(spark, table).files
    // the two untouched files are CARRIED (same add entries, no rewrite);
    // exactly the ONE touched file was removed
    before.toSet.intersect(after.toSet).size shouldBe 2
    (before.toSet -- after.toSet).size shouldBe 1
    val got = DeltaLite.read(spark, table).as[(Long, Long)].collect().toMap
    got(12L) shouldBe 120L
    got.contains(15L) shouldBe false
    got(99L) shouldBe 99L
    got.size shouldBe 30 // 30 - 1 deleted + 1 inserted
    // the commit is MERGE-operation, one version
    DeltaLite.history(spark, table).where(col("version") === v)
      .select("operation").as[String].head() shouldBe "MERGE"
    // duplicate source keys refuse
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.mergeInto(spark, table,
        Seq((1L, 1L), (1L, 2L)).toDF("k", "v"), "k")
    // duplicate matched TARGET rows refuse (ambiguous SQL MERGE)
    DeltaLite.write(spark, Seq((12L, 1L)).toDF("k", "v"), table,
      collectStats = true)
    an[IllegalArgumentException] should be thrownBy
      DeltaLite.mergeInto(spark, table, Seq((12L, 5L)).toDF("k", "v"), "k")
  }

  test("mergeInto: no-match source appends; DV-masked rows are inserts not matches; CDF stages row-level changes") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_merge_dv")
    DeltaLite.write(spark, (1L to 6L).map(k => (k, k)).toDF("k", "v")
      .coalesce(1), table, collectStats = true)                       // v0
    DeltaLite.enableCdf(spark, table)                                 // v1
    // DV-delete key 3: a source row for 3 must be an INSERT (the live
    // scan must not match the masked row)
    DeltaLite.deleteWhereDV(spark, table, "k", 3L, 3L)                // v2
    val (_, u1, d1, i1) = DeltaLite.mergeInto(spark, table,
      Seq((3L, 33L)).toDF("k", "v"), "k")                             // v3
    (u1, d1, i1) shouldBe (0L, 0L, 1L)
    DeltaLite.read(spark, table).where(col("k") === 3L)
      .as[(Long, Long)].collect() shouldBe Seq((3L, 33L))
    // matched merge on the CDF table stages pre/postimage + insert rows
    val (_, u2, d2, i2) = DeltaLite.mergeInto(spark, table,
      Seq((5L, 50L, "U"), (6L, 6L, "D"), (70L, 70L, "U")).toDF("k", "v", "op"),
      "k", deleteWhen = Some(col("op") === "D"))                      // v4
    (u2, d2, i2) shouldBe (1L, 1L, 1L)
    val feed = DeltaLite.readCdf(spark, table, 3L, 4L)
      .select("k", "v", "_change_type").as[(Long, Long, String)]
      .collect().toSet
    feed shouldBe Set(
      (5L, 5L, "update_preimage"), (5L, 50L, "update_postimage"),
      (6L, 6L, "delete"), (70L, 70L, "insert"))
  }

  test("column mapping: maxColumnId is MONOTONE — ADD after DROP never reuses the dropped field's id") {
    import spark.implicits._
    val table = Sinks.tempDir("delta_cm_mono")
    // ids at creation: k=1, v=2, s=3 (maxColumnId = 3)
    DeltaLite.writeColumnMapped(spark,
      Seq((1L, 10L, "old1"), (2L, 20L, "old2")).toDF("k", "v", "s"), table)
    DeltaLite.dropColumn(spark, table, "s") // live schema's max id shrinks to 2
    // the DROP commit must RE-DECLARE maxColumnId = 3, not shrink it
    val dropV = DeltaLite.latestVersion(spark, table)
    val dropMeta = logLines(table, dropV).map(mapper.readTree)
      .find(_.has("metaData")).get.get("metaData")
    dropMeta.get("configuration").get("delta.columnMapping.maxColumnId")
      .asText() shouldBe "3"
    // the ADD must take a FRESH id (4) — reusing 3 would bind the new
    // column to the dropped column's physical col-3 in pre-drop files
    DeltaLite.addColumn(spark, table, "s2",
      org.apache.spark.sql.types.StringType)
    val addV = DeltaLite.latestVersion(spark, table)
    val addMeta = logLines(table, addV).map(mapper.readTree)
      .find(_.has("metaData")).get.get("metaData")
    var s2Id = -1L
    var s2Phys = ""
    mapper.readTree(addMeta.get("schemaString").asText()).get("fields")
      .forEach { f =>
        if (f.get("name").asText() == "s2") {
          s2Id = f.get("metadata").get("delta.columnMapping.id").asLong()
          s2Phys = f.get("metadata")
            .get("delta.columnMapping.physicalName").asText()
        }
      }
    s2Id shouldBe 4L
    s2Phys shouldBe "col-4"
    addMeta.get("configuration").get("delta.columnMapping.maxColumnId")
      .asText() shouldBe "4"
    // pre-drop files surface the new column as NULL — never the dropped
    // column's old bytes under the new name (the id-reuse failure mode)
    DeltaLite.read(spark, table).select("k", "s2")
      .as[(Long, Option[String])].collect().toSet shouldBe
      Set((1L, None), (2L, None))
  }
}
