package graft

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.scalatest.matchers.should.Matchers

import graft.ingest.Sinks
import graft.sources.IcebergLite

/** X261/X261b: the minimal Iceberg v1 implementation — metadata layout
  * conformance (spec field-ids on the Avro layers, schema ids in the
  * table JSON), manifest reuse on append, record-count statistics, and
  * snapshot time travel. */
class IcebergLiteSpec extends SparkSpec with Matchers {

  private val mapper = new ObjectMapper()

  private def avroRecords(f: java.io.File): Seq[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](
      f, new GenericDatumReader[GenericRecord]())
    val out = scala.collection.mutable.ArrayBuffer.empty[GenericRecord]
    while (r.hasNext) out += r.next()
    r.close()
    out.toSeq
  }

  test("metadata layout: spec-shaped JSON + field-id'd Avro layers") {
    import spark.implicits._
    val table = Sinks.tempDir("iceberg_spec0")
    IcebergLite.write(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "s", "v"), table)
    val meta = mapper.readTree(
      new java.io.File(table, "metadata/v1.metadata.json"))
    meta.get("format-version").asInt() shouldBe 1
    meta.get("current-snapshot-id").asLong() shouldBe 1L
    val fields = meta.get("schema").get("fields")
    fields.get(0).get("id").asInt() shouldBe 1
    fields.get(1).get("name").asText() shouldBe "s"
    // manifest list carries the spec field-ids on its Avro schema
    val listFile = new java.io.File(
      meta.get("snapshots").get(0).get("manifest-list").asText())
    val listRecs = avroRecords(listFile)
    listRecs should not be empty
    val listSchema = listRecs.head.getSchema
    listSchema.getField("manifest_path").getObjectProp("field-id") shouldBe 500
    listSchema.getField("added_snapshot_id").getObjectProp("field-id") shouldBe 503
    // manifest entries: ADDED status, real sizes, exact record counts
    val entries = listRecs.flatMap(m =>
      avroRecords(new java.io.File(m.get("manifest_path").toString)))
    entries.map(_.get("status").asInstanceOf[Int]).toSet shouldBe Set(1)
    val df = entries.head.get("data_file").asInstanceOf[GenericRecord]
    df.getSchema.getField("file_path").getObjectProp("field-id") shouldBe 100
    entries.map(_.get("data_file").asInstanceOf[GenericRecord]
      .get("record_count").asInstanceOf[Long]).sum shouldBe 2L
  }

  test("schema evolution: new schema-id appended, snapshots keep their own") {
    import spark.implicits._
    val table = Sinks.tempDir("iceberg_spec2")
    IcebergLite.write(spark, Seq((1L, 10L)).toDF("k", "v"), table)
    IcebergLite.write(spark, Seq((2L, 20L, "x")).toDF("k", "v", "s"), table)
    val meta = mapper.readTree(
      new java.io.File(table, "metadata/v2.metadata.json"))
    meta.get("current-schema-id").asInt() shouldBe 1
    meta.get("schemas").size() shouldBe 2 // immutable list grew, not mutated
    meta.get("snapshots").get(0).get("schema-id").asInt() shouldBe 0
    meta.get("snapshots").get(1).get("schema-id").asInt() shouldBe 1
    // current read: evolved schema, old file surfaces s as NULL
    val latest = IcebergLite.read(spark, table).orderBy("k").collect()
    latest(0).isNullAt(2) shouldBe true
    latest(1).getString(2) shouldBe "x"
    // snapshot-1 time travel keeps the ORIGINAL 2-column schema
    IcebergLite.read(spark, table, snapshotId = 1L)
      .schema.fieldNames.toSeq shouldBe Seq("k", "v")
  }

  test("append reuses the prior manifest by reference; overwrite does not") {
    import spark.implicits._
    val table = Sinks.tempDir("iceberg_spec1")
    IcebergLite.write(spark, Seq((1L, 1L)).toDF("k", "v"), table)
    IcebergLite.write(spark, Seq((2L, 2L)).toDF("k", "v"), table)
    val meta2 = mapper.readTree(
      new java.io.File(table, "metadata/v2.metadata.json"))
    val list2 = avroRecords(new java.io.File(
      meta2.get("snapshots").get(1).get("manifest-list").asText()))
    list2.map(_.get("added_snapshot_id").asInstanceOf[Long]).sorted shouldBe
      Seq(1L, 2L) // snapshot 1's manifest referenced, not rewritten
    IcebergLite.read(spark, table).count() shouldBe 2L
    IcebergLite.write(spark, Seq((9L, 9L)).toDF("k", "v"), table,
      overwrite = true)
    val meta3 = mapper.readTree(
      new java.io.File(table, "metadata/v3.metadata.json"))
    val list3 = avroRecords(new java.io.File(
      meta3.get("snapshots").get(2).get("manifest-list").asText()))
    list3.map(_.get("added_snapshot_id").asInstanceOf[Long]) shouldBe Seq(3L)
    IcebergLite.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((9L, 9L))
    // time travel: snapshots 1 and 2 unchanged by the overwrite
    IcebergLite.read(spark, table, snapshotId = 1L).count() shouldBe 1L
    IcebergLite.read(spark, table, snapshotId = 2L).count() shouldBe 2L
  }

  test("commitIdempotent: redelivered micro-batch returns its original snapshot") {
    import spark.implicits._
    val table = Sinks.tempDir("iceberg_spec_txn")
    val b0 = Seq((1L, 10L)).toDF("k", "v")
    val s0 = IcebergLite.commitIdempotent(spark, b0, table, batchId = 0L)
    IcebergLite.commitIdempotent(spark, b0, table, batchId = 0L) shouldBe s0
    val s1 = IcebergLite.commitIdempotent(spark,
      Seq((2L, 20L)).toDF("k", "v"), table, batchId = 1L)
    s1 should be > s0
    IcebergLite.read(spark, table).count() shouldBe 2L // no duplicate rows
  }

  test("expireSnapshots: metadata drops old snapshots, unreferenced layers swept") {
    import spark.implicits._
    val table = Sinks.tempDir("iceberg_spec_exp")
    IcebergLite.write(spark, Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .coalesce(1), table)
    IcebergLite.write(spark, Seq((9L, 90L)).toDF("k", "v").coalesce(1), table,
      overwrite = true)
    IcebergLite.read(spark, table, snapshotId = 1L).count() shouldBe 2L
    val (expired, deleted) = IcebergLite.expireSnapshots(spark, table, keepLast = 1)
    (expired, deleted) shouldBe ((1L, 1L))
    // idempotent: nothing left to expire
    IcebergLite.expireSnapshots(spark, table, keepLast = 1) shouldBe ((0L, 0L))
    // current read intact; expired snapshot refuses by absence
    IcebergLite.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((9L, 90L))
    an[IllegalArgumentException] should be thrownBy
      IcebergLite.read(spark, table, snapshotId = 1L)
    // a later append still works against the expired-compacted metadata
    IcebergLite.write(spark, Seq((3L, 30L)).toDF("k", "v"), table)
    IcebergLite.read(spark, table).count() shouldBe 2L
  }

  test("value bounds: manifests carry min/max, planBounds prunes, boundless files kept") {
    import spark.implicits._
    val table = Sinks.tempDir("iceberg_spec_bounds")
    IcebergLite.write(spark, Seq((1L, 10L), (5L, 50L)).toDF("k", "v")
      .coalesce(1), table, boundsColumn = Some("k"))
    IcebergLite.write(spark, Seq((100L, 11L), (200L, 22L)).toDF("k", "v")
      .coalesce(1), table, boundsColumn = Some("k"))
    val (files, matched, total) = IcebergLite.planBounds(spark, table, 1L, 10L)
    (matched, total) shouldBe ((1L, 2L))
    spark.read.parquet(files: _*).collect()
      .map(_.getLong(0)).toSet shouldBe Set(1L, 5L)
    // an append without bounds is conservatively kept by every plan
    IcebergLite.write(spark, Seq((500L, 55L)).toDF("k", "v").coalesce(1), table)
    IcebergLite.planBounds(spark, table, 1L, 10L)._2 shouldBe 2L
  }

  test("hidden partitioning: manifests carry values, planning prunes, appends check spec") {
    import spark.implicits._
    val table = Sinks.tempDir("iceberg_spec_part")
    val rows = Seq((1L, "2024-01-05", 10L), (2L, "2024-01-20", 20L),
      (3L, "2024-02-02", 30L), (4L, "2024-03-09", 40L))
    IcebergLite.write(spark, rows.toDF("k", "d", "v"), table,
      partitionField = Some(IcebergLite.PartField.truncate("d", 7)))
    // metadata declares the spec transform with partition-field-id 1000
    val meta = mapper.readTree(new java.io.File(table, "metadata/v1.metadata.json"))
    val pf = meta.get("partition-specs").get(0).get("fields").get(0)
    pf.get("transform").asText() shouldBe "truncate[7]"
    pf.get("field-id").asInt() shouldBe 1000
    // planning prunes to one file per wanted month, off manifests alone
    val (files, matched, total) =
      IcebergLite.planPartitioned(spark, table, Set("2024-01", "2024-03"))
    total shouldBe 3L // one file per distinct month
    matched shouldBe 2L
    val planned = spark.read.parquet(files: _*).collect()
      .map(_.getLong(0)).toSet
    planned shouldBe Set(1L, 2L, 4L) // no row filter applied — pruning IS the filter
    // the source column survives untouched in the data files
    spark.read.parquet(files.head).schema.fieldNames.toSeq shouldBe
      Seq("k", "d", "v")
    // full (unpruned) read still sees everything
    IcebergLite.read(spark, table).count() shouldBe 4L
    // an append must re-declare the identical spec
    an[IllegalArgumentException] should be thrownBy
      IcebergLite.write(spark, Seq((5L, "2024-04-01", 50L)).toDF("k", "d", "v"),
        table)
    IcebergLite.write(spark, Seq((5L, "2024-04-01", 50L)).toDF("k", "d", "v"),
      table, partitionField = Some(IcebergLite.PartField.truncate("d", 7)))
    IcebergLite.planPartitioned(spark, table, Set("2024-04"))._2 shouldBe 1L
  }

  test("two racing writers: exactly one wins each version, loser retries") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_race")
    IcebergLite.write(spark, Seq((0L, 0L)).toDF("k", "v"), table)
    // both writers plan from metadata v1 and race to create v2; the
    // atomic-create arbiter admits one, the other cleans up and replans
    // to v3 — both appends land, in two snapshots
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = Seq(1L, 2L).map { i =>
      new Thread(() => results.add(
        IcebergLite.write(spark,
          Seq((i, i * 10L)).toDF("k", "v"), table)))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    results.asScala.toSet shouldBe Set(2L, 3L)
    IcebergLite.latestMetadataVersion(spark, table) shouldBe 3
    IcebergLite.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Set((0L, 0L), (1L, 10L), (2L, 20L))
    // every retained snapshot still reads (no dangling manifests)
    IcebergLite.read(spark, table, snapshotId = 2L).count() shouldBe 2L
  }

  test("commitIdempotent survives expireSnapshots (batch-id high-water mark)") {
    import spark.implicits._
    // the r09 advisor scenario: expiration drops the marker-carrying
    // snapshots; the high-water mark folded into table properties must
    // still refuse the redelivery
    val table = graft.ingest.Sinks.tempDir("ice_txn")
    val b0 = Seq((1L, 10L)).toDF("k", "v")
    val b1 = Seq((2L, 20L)).toDF("k", "v")
    IcebergLite.commitIdempotent(spark, b0, table, batchId = 0L)
    IcebergLite.commitIdempotent(spark, b1, table, batchId = 1L)
    val (expired, _) = IcebergLite.expireSnapshots(spark, table, keepLast = 1)
    expired shouldBe 1L
    IcebergLite.commitIdempotent(spark, b0, table, batchId = 0L)
    IcebergLite.commitIdempotent(spark, b1, table, batchId = 1L)
    IcebergLite.read(spark, table).count() shouldBe 2L // no duplicates
    // a genuinely NEW batch still lands
    IcebergLite.commitIdempotent(spark,
      Seq((3L, 30L)).toDF("k", "v"), table, batchId = 2L)
    IcebergLite.read(spark, table).count() shouldBe 3L
  }

  test("partition values needing escaping and the null partition roundtrip") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_esc")
    // truncate[5] over values with ':' and ' ' (Hive-escaped in dir
    // names) and a null source value (default-partition sentinel)
    val df = Seq((1L, "a:b c2024", 10L), (2L, "a:b cXXXX", 20L),
      (3L, null, 30L)).toDF("k", "d", "v")
    IcebergLite.write(spark, df, table, partitionField = Some(IcebergLite.PartField.truncate("d", 5)))
    val (files, n, total) =
      IcebergLite.planPartitioned(spark, table, Set("a:b c"))
    total shouldBe 2L
    n shouldBe 1L
    spark.read.parquet(files: _*).collect().map(_.getLong(0)).toSet shouldBe
      Set(1L, 2L)
    // the null partition is addressable as null, not the string "null"
    IcebergLite.planPartitioned(spark, table,
      Set(null.asInstanceOf[String]))._2 shouldBe 1L
    IcebergLite.planPartitioned(spark, table, Set("null"))._2 shouldBe 0L
  }

  test("rewriteDataFiles: replace snapshot, rows identical, feed refuses") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_rw")
    (0 until 3).foreach(i =>
      IcebergLite.write(spark,
        Seq((i.toLong, i * 10L)).toDF("k", "v"), table))
    val beforeRows = IcebergLite.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val (sid, nBefore, nAfter) = IcebergLite.rewriteDataFiles(spark, table)
    nBefore shouldBe 3L
    nAfter shouldBe 1L
    IcebergLite.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted shouldBe beforeRows
    // provenance: the rewrite is a `replace` snapshot
    IcebergLite.history(spark, table).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq shouldBe
      Seq((1L, "append"), (2L, "append"), (3L, "append"), (sid, "replace"))
    // prior snapshots still time-travel; the feed refuses the replace
    IcebergLite.read(spark, table, snapshotId = 3L).count() shouldBe 3L
    an[UnsupportedOperationException] should be thrownBy
      IcebergLite.readChanges(spark, table, 2L, sid)
    // expiration then reclaims the pre-compaction small files
    val (_, deleted) = IcebergLite.expireSnapshots(spark, table, keepLast = 1)
    deleted shouldBe 3L
    IcebergLite.read(spark, table).count() shouldBe 3L
  }

  test("partitioned exactly-once: redelivery no-ops, manifests prune") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_ptxn")
    val spec = Some(IcebergLite.PartField.truncate("d", 7))
    val b0 = Seq((1L, "2024-01-05"), (2L, "2024-02-01")).toDF("k", "d")
    val b1 = Seq((3L, "2024-01-20")).toDF("k", "d")
    val s0 = IcebergLite.commitIdempotent(spark, b0, table, 0L, spec)
    IcebergLite.commitIdempotent(spark, b0, table, 0L, spec) shouldBe s0
    IcebergLite.commitIdempotent(spark, b1, table, 1L, spec)
    IcebergLite.read(spark, table).count() shouldBe 3L
    // sink output is a REAL hidden-partitioned table
    val (files, n, total) =
      IcebergLite.planPartitioned(spark, table, Set("2024-01"))
    n shouldBe 2L // one 2024-01 file per batch
    total shouldBe 3L
    spark.read.parquet(files: _*).count() shouldBe 2L
    // expiration folds the markers into the high-water mark as usual
    IcebergLite.expireSnapshots(spark, table, keepLast = 1)
    IcebergLite.commitIdempotent(spark, b0, table, 0L, spec)
    IcebergLite.read(spark, table).count() shouldBe 3L
  }

  test("position deletes: merge-on-read, re-delete union, sequence gating, time travel") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_posdel")
    IcebergLite.write(spark,
      (0L until 10L).map(i => (i, i * 10L)).toDF("k", "v").repartition(2),
      table)
    // v1 table upgrades to format-version 2 on the first delete commit
    val (sid1, n1) = IcebergLite.deleteWhere(spark, table, "k", 2L, 4L)
    n1 shouldBe 3L
    IcebergLite.read(spark, table).select("k").as[Long].collect().sorted shouldBe
      Seq(0L, 1L, 5L, 6L, 7L, 8L, 9L)
    val meta = mapper.readTree(new java.io.File(table,
      s"metadata/v$sid1.metadata.json"))
    meta.get("format-version").asInt() shouldBe 2
    // no data file was rewritten — merge-on-read, not copy-on-write
    IcebergLite.history(spark, table).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq shouldBe
      Seq((1L, "append", 2L), (sid1, "delete", 0L))
    // re-delete union: overlapping range counts only NEWLY-live rows
    val (sid2, n2) = IcebergLite.deleteWhere(spark, table, "k", 3L, 6L)
    n2 shouldBe 2L // 5 and 6; 3-4 were already deleted
    IcebergLite.read(spark, table).select("k").as[Long].collect().sorted shouldBe
      Seq(0L, 1L, 7L, 8L, 9L)
    // nothing matches → no commit, current snapshot unchanged
    val (sid3, n3) = IcebergLite.deleteWhere(spark, table, "k", 100L, 200L)
    n3 shouldBe 0L
    sid3 shouldBe sid2
    // time travel ACROSS the deletes: each snapshot sees its own state
    IcebergLite.read(spark, table, snapshotId = 1L).count() shouldBe 10L
    IcebergLite.read(spark, table, snapshotId = sid1).count() shouldBe 7L
    // sequence gating: a row appended AFTER the deletes is NOT suppressed
    // even though an old delete names the same logical key space
    IcebergLite.write(spark, Seq((3L, 999L)).toDF("k", "v"), table)
    IcebergLite.read(spark, table).select("k").as[Long].collect().sorted shouldBe
      Seq(0L, 1L, 3L, 7L, 8L, 9L)
    // an append-only change feed refuses a range containing a delete
    an[UnsupportedOperationException] should be thrownBy
      IcebergLite.readChanges(spark, table, 1L, sid2)
  }

  test("equality deletes: by-value suppression, strict sequence gating, no scan at delete time") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_eqdel")
    IcebergLite.write(spark,
      (0L until 10L).map(i => (i, i * 10L)).toDF("k", "v").repartition(2), table)
    val (sid1, n1) = IcebergLite.deleteWhereEquality(spark, table, "k",
      Seq(2L, 4L, 6L, 4L)) // dup value collapses
    n1 shouldBe 3L
    IcebergLite.read(spark, table).select("k").as[Long].collect().sorted shouldBe
      Seq(0L, 1L, 3L, 5L, 7L, 8L, 9L)
    // STRICT gating: a row re-written AFTER the delete with a deleted key
    // value survives (the upsert semantics the kind exists for)
    IcebergLite.write(spark, Seq((4L, 444L)).toDF("k", "v"), table)
    IcebergLite.read(spark, table).where($"k" === 4L)
      .select("v").as[Long].collect() shouldBe Seq(444L)
    // ...and a SECOND equality delete of the same value removes it again
    IcebergLite.deleteWhereEquality(spark, table, "k", Seq(4L))
    IcebergLite.read(spark, table).select("k").as[Long].collect().sorted shouldBe
      Seq(0L, 1L, 3L, 5L, 7L, 8L, 9L)
    // both kinds compose: a position delete on top of equality deletes
    IcebergLite.deleteWhere(spark, table, "k", 0L, 0L)
    IcebergLite.read(spark, table).select("k").as[Long].collect().sorted shouldBe
      Seq(1L, 3L, 5L, 7L, 8L, 9L)
    // time travel below the deletes still sees the original rows
    IcebergLite.read(spark, table, snapshotId = 1L).count() shouldBe 10L
    // compaction materializes BOTH kinds away
    IcebergLite.rewriteDataFiles(spark, table)
    IcebergLite.snapshotDeleteFiles(spark, table, -1L) shouldBe empty
    IcebergLite.read(spark, table).select("k").as[Long].collect().sorted shouldBe
      Seq(1L, 3L, 5L, 7L, 8L, 9L)
  }

  test("merge-on-read masking is join-free when payloads are driver-readable") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_maskplan")
    IcebergLite.write(spark,
      (0L until 10L).map(i => (i, i * 10L)).toDF("k", "v").repartition(2), table)
    IcebergLite.deleteWhere(spark, table, "k", 2L, 4L)        // position
    IcebergLite.deleteWhereEquality(spark, table, "k", Seq(7L)) // equality
    val df = IcebergLite.read(spark, table)
    // the executor-side mask path serves BOTH delete kinds as one filter:
    // no anti-join (and no join of any kind) in the executed plan
    val plan = df.queryExecution.executedPlan.toString
    plan.toLowerCase should not include "join"
    df.select("k").as[Long].collect().sorted shouldBe
      Seq(0L, 1L, 5L, 6L, 8L, 9L)
  }

  test("composite-key equality deletes: tuple matching, sequence gating, batch changelog (X305)") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_eqdelm")
    // (k, grp, v): the composite key is (k, grp) — k alone is NOT unique
    IcebergLite.write(spark,
      Seq((1L, "a", 10L), (1L, "b", 11L), (2L, "a", 20L), (2L, "b", 21L),
        (3L, "a", 30L)).toDF("k", "grp", "v").repartition(2), table)
    val (_, n) = IcebergLite.deleteWhereEqualityRows(spark, table,
      Seq((1L, "a"), (2L, "b"), (2L, "b")).toDF("k", "grp")) // dup collapses
    n shouldBe 2L
    // only the exact tuples die — (1,b) and (2,a) share a key column with
    // a deleted tuple and MUST survive (per-column matching would kill them)
    IcebergLite.read(spark, table).select("k", "grp").as[(Long, String)]
      .collect().sorted shouldBe Seq((1L, "b"), (2L, "a"), (3L, "a"))
    // sequence gating: the tuple re-appended AFTER the delete survives
    IcebergLite.write(spark, Seq((1L, "a", 111L)).toDF("k", "grp", "v"), table)
    IcebergLite.read(spark, table).where($"k" === 1L && $"grp" === "a")
      .select("v").as[Long].collect() shouldBe Seq(111L)
    // the batch changelog announces exactly the two tuples' rows as
    // deletes (value semi-join on ALL key columns)
    val feed = IcebergLite.readChangelog(spark, table, 0L,
      IcebergLite.currentSnapshotId(spark, table))
    feed.where($"_change_type" === "delete")
      .select("k", "grp").as[(Long, String)].collect().sorted shouldBe
      Seq((1L, "a"), (2L, "b"))
    // the streaming feed SERVES the multi-column kind too (X305 closed
    // executor-side): the eq-delete snapshot plans value-filtered delete
    // units whose payload is the (k, grp) TUPLE relation
    val units = IcebergLite.changeUnits(spark, table,
      IcebergLite.snapshotIdList(spark, table).apply(1))
    val eqUnits = units.flatMap(_.emitEq)
    eqUnits should not be empty
    eqUnits.foreach { ev =>
      ev.cols.toSet shouldBe Set("k", "grp")
      ev.tuples.length shouldBe 2 // exactly the two deleted tuples
    }
  }

  test("v3 deletion vectors: Puffin blobs, superset merge, sequence gating, compaction materializes (X310)") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_dv3")
    IcebergLite.write(spark,
      (0L until 10L).map(i => (i, i * 10)).toDF("k", "v").repartition(2),
      table)
    IcebergLite.upgradeFormatVersion(spark, table, 3)
    val (s2, n1) = IcebergLite.deleteWhereDV(spark, table, "k", 0L, 2L)
    n1 shouldBe 3L
    // the ONLY delete artifact is the Puffin carrier — no parquet file
    val delFiles = IcebergLite.snapshotDeleteFiles(spark, table, -1L)
    delFiles should not be empty
    all(delFiles) should endWith(".puffin")
    IcebergLite.read(spark, table).select("k").as[Long].collect().sorted
      .shouldBe(3L to 9L)
    // overlapping second delete: the file's NEW vector is a superset of
    // the old one (merged), newest-wins at read
    val (_, n2) = IcebergLite.deleteWhereDV(spark, table, "k", 2L, 4L)
    n2 shouldBe 2L // 3 and 4 — 2 was already masked
    IcebergLite.read(spark, table).select("k").as[Long].collect().sorted
      .shouldBe(5L to 9L)
    // time travel below the second vector sees only the first
    IcebergLite.read(spark, table, s2).select("k").as[Long].collect()
      .sorted.shouldBe(3L to 9L)
    // sequence gating: re-appended keys survive (the vectors reference
    // the ORIGINAL files, not the new one)
    IcebergLite.write(spark, Seq((0L, 999L), (3L, 999L)).toDF("k", "v"),
      table)
    IcebergLite.read(spark, table).select("k").as[Long].collect().sorted
      .shouldBe(Seq(0L, 3L) ++ (5L to 9L))
    // the change feeds SERVE the vector kind (X310): the changelog over
    // the first DV commit announces exactly its deletions; over the
    // SECOND (superset) vector only the FRESH positions announce
    IcebergLite.readChangelog(spark, table, s2 - 1, s2)
      .where(org.apache.spark.sql.functions.col("_change_type") === "delete")
      .select("k").as[Long].collect().sorted shouldBe (0L to 2L)
    IcebergLite.readChangelog(spark, table, s2, s2 + 1)
      .where(org.apache.spark.sql.functions.col("_change_type") === "delete")
      .select("k").as[Long].collect().sorted shouldBe Seq(3L, 4L)
    // the streaming units agree: one fresh-position delete unit per
    // vectored file, parent vectors folded into the skip mask
    val units = IcebergLite.changeUnits(spark, table, s2 + 1)
    units.map(_.kind).distinct shouldBe Seq("delete")
    units.flatMap(_.emit).length shouldBe 2 // keys 3 and 4
    // compaction materializes vectors away; census unchanged
    IcebergLite.rewriteDataFiles(spark, table)
    IcebergLite.snapshotDeleteFiles(spark, table, -1L) shouldBe empty
    IcebergLite.read(spark, table).select("k").as[Long].collect().sorted
      .shouldBe(Seq(0L, 3L) ++ (5L to 9L))
  }

  test("v3 deletion vectors on a PARTITIONED table: entries carry partition values, pruning intact (X310)") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_dv3_part")
    val df = (0L until 20L).map(i => (i, s"c${i % 2}")).toDF("k", "cat")
    IcebergLite.write(spark,
      df.repartition(2, org.apache.spark.sql.functions.col("cat")), table,
      partitionField = Some(IcebergLite.PartField("cat", "identity")))
    IcebergLite.upgradeFormatVersion(spark, table, 3)
    val (_, n) = IcebergLite.deleteWhereDV(spark, table, "k", 0L, 5L)
    n shouldBe 6L
    val delFiles = IcebergLite.snapshotDeleteFiles(spark, table, -1L)
    all(delFiles) should endWith(".puffin")
    // each vector's manifest entry records its referenced file's
    // partition value — both partitions held keys 0..5
    IcebergLite.metadataTable(spark, table, "entries")
      .where(org.apache.spark.sql.functions.col("file_format") === "PUFFIN")
      .select("partition").as[String].collect().sorted
      .shouldBe(Array("c0", "c1"))
    IcebergLite.read(spark, table).select("k").as[Long].collect().sorted
      .shouldBe(6L to 19L)
    // a second vector in one partition only merges per-file supersets
    IcebergLite.deleteWhereDV(spark, table, "k", 4L, 7L)
    IcebergLite.read(spark, table).select("k").as[Long].collect().sorted
      .shouldBe(8L to 19L)
    // compaction materializes; census unchanged
    IcebergLite.rewriteDataFiles(spark, table)
    IcebergLite.snapshotDeleteFiles(spark, table, -1L) shouldBe empty
    IcebergLite.read(spark, table).select("k").as[Long].collect().sorted
      .shouldBe(8L to 19L)
  }

  test("rewriteManifests: data manifests consolidate, per-entry sequences preserve delete gating (X315)") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_rm")
    // append A, eq-delete 0..4, append B RE-ADDS 0..4 (survive by seq),
    // then a position delete — four commits, four+ manifests
    IcebergLite.write(spark,
      (0L until 10L).map(i => (i, 1L)).toDF("k", "gen"), table)
    IcebergLite.deleteWhereEquality(spark, table, "k", 0L to 4L)
    IcebergLite.write(spark,
      (0L until 5L).map(i => (i, 2L)).toDF("k", "gen"), table)
    IcebergLite.deleteWhere(spark, table, "k", 9L, 9L)
    val before = IcebergLite.read(spark, table)
      .as[(Long, Long)].collect().sortBy(identity)
    before.map(_._1).sorted shouldBe (0L to 8L)
    val mansBefore = IcebergLite.metadataTable(spark, table, "manifests")
      .where(org.apache.spark.sql.functions.col("content") === 0).count()
    mansBefore should be >= 2L
    val (_, b, a) = IcebergLite.rewriteManifests(spark, table)
    b shouldBe mansBefore
    a shouldBe 1L
    // rows byte-identical: the eq delete still gates by the ORIGINAL
    // per-entry sequences (gen-2 re-adds survive, gen-1 0..4 stay dead)
    IcebergLite.read(spark, table).as[(Long, Long)].collect()
      .sortBy(identity) shouldBe before
    // delete semantics keep working AFTER the rewrite
    IcebergLite.deleteWhere(spark, table, "k", 8L, 8L)
    IcebergLite.read(spark, table).select("k").as[Long].collect()
      .sorted shouldBe (0L to 7L)
    // the rewrite is row-silent in the change feeds
    IcebergLite.changeUnits(spark, table,
      IcebergLite.currentSnapshotId(spark, table) - 1) shouldBe empty
  }

  test("position deletes: compaction materializes them away, expiration sweeps delete files") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_posdel_rw")
    IcebergLite.write(spark,
      (0L until 8L).map(i => (i, i)).toDF("k", "v").repartition(2), table)
    IcebergLite.deleteWhere(spark, table, "k", 0L, 2L)
    val delFiles = IcebergLite.snapshotDeleteFiles(spark, table, -1L)
    delFiles should have size 1
    new java.io.File(delFiles.head).exists() shouldBe true
    // rewrite reads MERGED rows and drops the delete manifests
    val (sid, _, nAfter) = IcebergLite.rewriteDataFiles(spark, table)
    nAfter shouldBe 1L
    IcebergLite.snapshotDeleteFiles(spark, table, -1L) shouldBe empty
    IcebergLite.read(spark, table).select("k").as[Long].collect().sorted shouldBe
      Seq(3L, 4L, 5L, 6L, 7L)
    // expiration reclaims the superseded delete file like any data file
    IcebergLite.expireSnapshots(spark, table, keepLast = 1)
    new java.io.File(delFiles.head).exists() shouldBe false
    IcebergLite.read(spark, table).count() shouldBe 5L
  }

  test("merge-on-read UPDATE: both manifest kinds in one snapshot, stacking, time travel, compaction") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_mor_upd")
    IcebergLite.write(spark,
      (0L until 10L).map(i => (i, i * 10L)).toDF("k", "v").repartition(2),
      table)
    val filesBefore = IcebergLite.snapshotFiles(spark, table, -1L).toSet
    val (sid1, n1) = IcebergLite.updateWhere(spark, table, "k", 2L, 4L,
      Map("v" -> (col("v") + 1L)))
    n1 shouldBe 3L
    // no original data file rewritten — the update is a delete+add pair
    IcebergLite.snapshotFiles(spark, table, -1L)
      .toSet should contain allElementsOf filesBefore
    IcebergLite.snapshotDeleteFiles(spark, table, -1L) should have size 1
    IcebergLite.read(spark, table).orderBy("k")
      .select("v").as[Long].collect() shouldBe
      Seq(0L, 10L, 21L, 31L, 41L, 50L, 60L, 70L, 80L, 90L)
    // stacking: an overlapping update re-masks the MOVED rows at their
    // new coordinates (live-view planning), and the overlap row gets
    // both assignments
    val (_, n2) = IcebergLite.updateWhere(spark, table, "k", 4L, 6L,
      Map("v" -> (col("v") * 2L)))
    n2 shouldBe 3L
    IcebergLite.read(spark, table).orderBy("k")
      .select("v").as[Long].collect() shouldBe
      Seq(0L, 10L, 21L, 31L, 82L, 100L, 120L, 70L, 80L, 90L)
    // nothing matched → no commit
    val cur = IcebergLite.read(spark, table).count()
    val (_, n3) =
      IcebergLite.updateWhere(spark, table, "k", 100L, 200L,
        Map("v" -> lit(0L)))
    n3 shouldBe 0L
    IcebergLite.read(spark, table).count() shouldBe cur
    // time travel below each update sees that snapshot's own values
    IcebergLite.read(spark, table, snapshotId = 1L).where($"k" === 4L)
      .select("v").as[Long].collect() shouldBe Seq(40L)
    IcebergLite.read(spark, table, snapshotId = sid1).where($"k" === 4L)
      .select("v").as[Long].collect() shouldBe Seq(41L)
    // an append-only change feed refuses across the update
    an[UnsupportedOperationException] should be thrownBy
      IcebergLite.readChanges(spark, table, 1L, sid1)
    // compaction materializes the update's delete files away
    IcebergLite.rewriteDataFiles(spark, table)
    IcebergLite.snapshotDeleteFiles(spark, table, -1L) shouldBe empty
    IcebergLite.read(spark, table).orderBy("k")
      .select("v").as[Long].collect() shouldBe
      Seq(0L, 10L, 21L, 31L, 82L, 100L, 120L, 70L, 80L, 90L)
  }

  test("streaming WAP: micro-batches stage on a branch, publish is atomic, replay no-ops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_stream_wap")
    // the table must exist before branch staging (cannot branch nothing)
    IcebergLite.write(spark, Seq((0L, 0L)).toDF("k", "v"), table)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, Long)]
    val q = src.toDF().toDF("k", "v")
      .writeStream
      .foreachBatch(
        graft.streaming.TransactionalSink.intoIcebergBranch(table, "staging"))
      .option("checkpointLocation", graft.ingest.Sinks.tempDir("icewap_ckpt"))
      .start()
    src.addData((1L, 10L), (2L, 20L))
    q.processAllAvailable()
    src.addData((3L, 30L))
    q.processAllAvailable()
    q.stop()
    // two micro-batches staged; production readers saw none of it
    IcebergLite.read(spark, table).count() shouldBe 1L
    IcebergLite.readRef(spark, table, "staging").count() shouldBe 4L
    // a replayed batch no-ops on the snapshot-summary ledger
    IcebergLite.commitIdempotent(spark,
      Seq((3L, 30L)).toDF("k", "v"), table, batchId = 1L,
      toBranch = Some("staging"))
    IcebergLite.readRef(spark, table, "staging").count() shouldBe 4L
    // the audited window publishes atomically
    IcebergLite.fastForward(spark, table, "staging")
    IcebergLite.read(spark, table).orderBy("k")
      .select("k").as[Long].collect() shouldBe Seq(0L, 1L, 2L, 3L)
  }

  test("sort order: metadata-only declaration, sorted rewrite enables bounds pruning") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_sort")
    // shuffled keys, hash-spread: both files span the full range
    IcebergLite.write(spark,
      new scala.util.Random(7).shuffle((0L until 100L).toList)
        .map(i => (i, i * 2L)).toDF("k", "v").repartition(2),
      table, boundsColumn = Some("k"))
    val (_, kept0, total0) = IcebergLite.planBounds(spark, table, 0L, 10L)
    (kept0, total0) shouldBe ((2L, 2L))
    IcebergLite.setSortOrder(spark, table, "k")
    // the rewrite honors the declared order: range-clustered disjoint files
    IcebergLite.rewriteDataFiles(spark, table, targetFiles = 2)
    val (files1, kept1, total1) = IcebergLite.planBounds(spark, table, 0L, 10L)
    total1 shouldBe 2L
    kept1 shouldBe 1L
    spark.read.parquet(files1: _*).where($"k" <= 10L).count() shouldBe 11L
    IcebergLite.read(spark, table).select("k").as[Long].collect().sorted shouldBe
      (0L until 100L).toArray
    // the declaration SURVIVES later data commits (metadata preservation):
    // an unsorted append then another rewrite re-clusters everything
    IcebergLite.write(spark,
      (100L until 110L).map(i => (i, i)).toDF("k", "v"), table)
    IcebergLite.rewriteDataFiles(spark, table, targetFiles = 2)
    val (_, kept2, total2) = IcebergLite.planBounds(spark, table, 0L, 10L)
    (kept2, total2) shouldBe ((1L, 2L))
    IcebergLite.read(spark, table).count() shouldBe 110L
  }

  test("write-audit-publish: branch staging invisible to main, ancestry-proven fast-forward") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_wap")
    IcebergLite.write(spark, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), table)
    // staging on a branch: readable via the ref, invisible to main
    IcebergLite.write(spark, Seq((3L, 30L)).toDF("k", "v"), table,
      toBranch = Some("wap"))
    IcebergLite.read(spark, table).count() shouldBe 2L
    IcebergLite.readRef(spark, table, "wap").count() shouldBe 3L
    // a second branch commit STACKS on the branch head, not on main
    IcebergLite.write(spark, Seq((4L, 40L)).toDF("k", "v"), table,
      toBranch = Some("wap"))
    IcebergLite.read(spark, table).count() shouldBe 2L
    IcebergLite.readRef(spark, table, "wap").count() shouldBe 4L
    // publish: fast-forward main to the audited branch head
    val v1 = IcebergLite.fastForward(spark, table, "wap")
    IcebergLite.read(spark, table).count() shouldBe 4L
    // re-publishing an already-published branch is a no-op
    IcebergLite.fastForward(spark, table, "wap") shouldBe v1
    // divergence: a branch cut before main advanced cannot fast-forward
    IcebergLite.write(spark, Seq((5L, 50L)).toDF("k", "v"), table,
      toBranch = Some("late"))
    IcebergLite.write(spark, Seq((6L, 60L)).toDF("k", "v"), table)
    an[IllegalArgumentException] should be thrownBy
      IcebergLite.fastForward(spark, table, "late")
    // tags are immutable pointers — they never fast-forward
    IcebergLite.setRef(spark, table, "rel",
      snapshotId = 3L, refType = "tag")
    an[IllegalArgumentException] should be thrownBy
      IcebergLite.fastForward(spark, table, "rel")
    // an abandoned branch is dropped unpublished; expiration sweeps its
    // snapshot while ref-pointed ones survive — the rows never reach main
    IcebergLite.dropRef(spark, table, "late")
    IcebergLite.dropRef(spark, table, "rel")
    val lateFiles = IcebergLite.read(spark, table).count() // 5 live rows
    lateFiles shouldBe 5L
    IcebergLite.expireSnapshots(spark, table, keepLast = 1)
    IcebergLite.read(spark, table).orderBy("k")
      .select("k").as[Long].collect() shouldBe Seq(1L, 2L, 3L, 4L, 6L)
  }

  test("partition spec evolution: per-spec residual pruning, old files never rewritten") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_specevo")
    IcebergLite.write(spark,
      Seq(("aa", 1L), ("ab", 2L), ("bb", 3L)).toDF("cat", "v"), table,
      partitionField = Some(IcebergLite.PartField.truncate("cat", 1)))
    val phase1 = IcebergLite.snapshotFiles(spark, table, -1L).toSet
    phase1 should have size 2 // buckets 'a' (aa, ab) and 'b' (bb)
    IcebergLite.evolvePartitionSpec(spark, table,
      Some(IcebergLite.PartField.truncate("cat", 2)))
    // writes must declare the NEW default spec now
    an[IllegalArgumentException] should be thrownBy
      IcebergLite.write(spark, Seq(("zz", 9L)).toDF("cat", "v"), table,
        partitionField = Some(IcebergLite.PartField.truncate("cat", 1)))
    IcebergLite.write(spark,
      Seq(("aa", 10L), ("ba", 20L)).toDF("cat", "v"), table,
      partitionField = Some(IcebergLite.PartField.truncate("cat", 2)))
    // old files still live untouched — evolution rewrites nothing
    IcebergLite.snapshotFiles(spark, table, -1L)
      .toSet should contain allElementsOf phase1
    // wanted 'aa' (current spec): the old 'a' bucket is kept by the
    // width-1 residual (it MAY hold aa rows — and also holds ab, the
    // conservative superset), the old 'b' bucket prunes; new 'aa' kept,
    // 'ba' pruned
    val (files, n, total) = IcebergLite.planPartitioned(spark, table, Set("aa"))
    (n, total) shouldBe ((2L, 4L))
    spark.read.parquet(files: _*).select("v").as[Long].collect().sorted shouldBe
      Seq(1L, 2L, 10L)
    // wanted 'bb': only the old 'b' bucket survives either residual
    val (files2, n2, _) = IcebergLite.planPartitioned(spark, table, Set("bb"))
    n2 shouldBe 1L
    spark.read.parquet(files2: _*).select("v").as[Long].collect() shouldBe
      Seq(3L)
    // the full read is unaffected by layout history
    IcebergLite.read(spark, table).count() shouldBe 5L
    // re-declaring the current default is a no-op commit
    val v0 = IcebergLite.latestMetadataVersion(spark, table)
    IcebergLite.evolvePartitionSpec(spark, table,
      Some(IcebergLite.PartField.truncate("cat", 2))) shouldBe v0
    // evolving to UNPARTITIONED: plain writes work, partition planning
    // refuses (no default transform to express a wanted set in)
    IcebergLite.evolvePartitionSpec(spark, table, None)
    IcebergLite.write(spark, Seq(("zz", 9L)).toDF("cat", "v"), table)
    IcebergLite.read(spark, table).count() shouldBe 6L
    an[IllegalArgumentException] should be thrownBy
      IcebergLite.planPartitioned(spark, table, Set("aa"))
  }

  test("MERGE INTO: file-granular rewrite, manifest reuse, carried deletes keep applying") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_merge")
    // commit 1: keys 0-4 across TWO files (one manifest, partial-touch
    // candidate); commit 2: keys 5-9 in one file (untouched manifest)
    IcebergLite.write(spark,
      (0L to 4L).map(i => (i, i * 10L)).toDF("k", "v").repartition(2), table)
    val m1Files = IcebergLite.snapshotFiles(spark, table, -1L)
    IcebergLite.write(spark,
      (5L to 9L).map(i => (i, i * 10L)).toDF("k", "v").coalesce(1), table)
    val allFiles = IcebergLite.snapshotFiles(spark, table, -1L)
    val m2Files = allFiles.toSet -- m1Files.toSet
    // a position delete in the UNTOUCHED region must keep applying after
    // the merge (survivor manifests preserve sequence numbers)
    IcebergLite.deleteWhere(spark, table, "k", 6L, 6L)
    // source touches the file(s) holding keys 2 and 3 plus inserts 42
    val touched = m1Files.filter(f =>
      spark.read.parquet(f).where($"k".isin(2L, 3L)).count() > 0).toSet
    val (_, nU, nI) = IcebergLite.mergeInto(spark, table,
      Seq((2L, 222L), (3L, 333L), (42L, 420L)).toDF("k", "v"), "k")
    nU shouldBe 2L
    nI shouldBe 1L
    IcebergLite.read(spark, table).orderBy("k")
      .as[(Long, Long)].collect() shouldBe Seq((0L, 0L), (1L, 10L),
      (2L, 222L), (3L, 333L), (4L, 40L), (5L, 50L), (7L, 70L), (8L, 80L),
      (9L, 90L), (42L, 420L))
    val after = IcebergLite.snapshotFiles(spark, table, -1L).toSet
    // file-granular COW: untouched files (all of commit 2, and commit 1's
    // untouched file when the hash split separated the keys) still live,
    // touched files out of the live set
    m2Files.subsetOf(after) shouldBe true
    (m1Files.toSet -- touched).subsetOf(after) shouldBe true
    touched.intersect(after) shouldBe empty
    // time travel below the merge reads the pre-merge state
    IcebergLite.read(spark, table, snapshotId = 3L).where($"k" === 2L)
      .select("v").as[Long].collect() shouldBe Seq(20L)
    // a source that matches nothing degrades to a plain append
    val (_, nU2, nI2) = IcebergLite.mergeInto(spark, table,
      Seq((100L, 1000L)).toDF("k", "v"), "k")
    nU2 shouldBe 0L
    nI2 shouldBe 1L
    IcebergLite.read(spark, table).count() shouldBe 11L
    // duplicate source keys refuse — ambiguous MERGE
    an[IllegalArgumentException] should be thrownBy
      IcebergLite.mergeInto(spark, table,
        Seq((2L, 1L), (2L, 2L)).toDF("k", "v"), "k")
  }

  test("ancestry incremental read tolerates replace, refuses deletes and expired ranges") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_incr_anc")
    IcebergLite.write(spark, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), table)
    IcebergLite.write(spark, Seq((3L, 30L)).toDF("k", "v"), table)
    IcebergLite.rewriteDataFiles(spark, table) // snapshot 3: replace
    IcebergLite.write(spark, Seq((4L, 40L)).toDF("k", "v"), table)
    // legacy list-diff feed refuses the replace; the ancestry walk does not
    an[UnsupportedOperationException] should be thrownBy
      IcebergLite.readChanges(spark, table, 1L, 4L)
    IcebergLite.readChangesAncestry(spark, table, 1L, 4L)
      .select("k").as[Long].collect().sorted shouldBe Seq(3L, 4L)
    // full-range walk: every append exactly once, the replace contributes 0
    IcebergLite.readChangesAncestry(spark, table, 0L, 4L)
      .select("k").as[Long].collect().sorted shouldBe Seq(1L, 2L, 3L, 4L)
    // a delete snapshot in range still refuses (logical row removal)
    IcebergLite.deleteWhere(spark, table, "k", 4L, 4L)
    an[UnsupportedOperationException] should be thrownBy
      IcebergLite.readChangesAncestry(spark, table, 0L, 5L)
    // expiration removes the ancestry evidence → refuse by absence
    IcebergLite.expireSnapshots(spark, table, keepLast = 1)
    an[IllegalArgumentException] should be thrownBy
      IcebergLite.readChangesAncestry(spark, table, 0L, 4L)
  }

  test("refs: tags survive expiration, read by name, dropRef releases the snapshot") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_refs")
    IcebergLite.write(spark, Seq((1L, 10L)).toDF("k", "v"), table)
    IcebergLite.write(spark, Seq((2L, 20L)).toDF("k", "v"), table)
    IcebergLite.write(spark, Seq((3L, 30L)).toDF("k", "v"), table)
    IcebergLite.setRef(spark, table, "v1.0", snapshotId = 1L)
    IcebergLite.setRef(spark, table, "audit", snapshotId = 2L, refType = "branch")
    IcebergLite.readRef(spark, table, "v1.0").count() shouldBe 1L
    IcebergLite.readRef(spark, table, "audit").count() shouldBe 2L
    // main tracks the current snapshot through commits
    IcebergLite.readRef(spark, table, "main").count() shouldBe 3L
    an[IllegalArgumentException] should be thrownBy
      IcebergLite.setRef(spark, table, "bad", snapshotId = 99L)
    // expiration keeps BOTH ref-pointed snapshots despite keepLast = 1
    val (expired1, _) = IcebergLite.expireSnapshots(spark, table, keepLast = 1)
    expired1 shouldBe 0L
    IcebergLite.readRef(spark, table, "v1.0").count() shouldBe 1L
    // dropping the refs releases their snapshots to normal retention
    IcebergLite.dropRef(spark, table, "v1.0")
    IcebergLite.dropRef(spark, table, "audit")
    val (expired2, _) = IcebergLite.expireSnapshots(spark, table, keepLast = 1)
    expired2 shouldBe 2L
    an[IllegalArgumentException] should be thrownBy
      IcebergLite.readRef(spark, table, "v1.0")
    IcebergLite.read(spark, table).count() shouldBe 3L // current intact
  }

  test("history: per-snapshot operation + genuinely recounted file counts") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_hist")
    IcebergLite.write(spark, Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .repartition(2), table)
    IcebergLite.write(spark, Seq((3L, 30L)).toDF("k", "v"), table)
    IcebergLite.write(spark, Seq((9L, 90L)).toDF("k", "v"), table,
      overwrite = true)
    val h = IcebergLite.history(spark, table).collect()
    h.map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L, 3L)
    h.map(_.getString(1)).toSeq shouldBe Seq("append", "append", "overwrite")
    h.map(_.getLong(2)).toSeq shouldBe Seq(2L, 1L, 1L) // added files
    h.map(_.getLong(3)).toSeq shouldBe Seq(2L, 3L, 1L) // total live files
    h.map(_.getLong(4)).toSeq shouldBe Seq(-1L, -1L, -1L) // no batch markers
    // after expiration, history shows only the retained cut
    IcebergLite.expireSnapshots(spark, table, keepLast = 1)
    IcebergLite.history(spark, table).collect()
      .map(_.getLong(0)).toSeq shouldBe Seq(3L)
  }

  test("metadata tables: snapshots/files/manifests/refs recounted from the metadata layer") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_metatab")
    IcebergLite.write(spark,
      (1L to 6L).map(k => (k, k * 10L)).toDF("k", "v").repartition(2), table)
    IcebergLite.write(spark, Seq((7L, 70L)).toDF("k", "v"), table)
    IcebergLite.setRef(spark, table, "rel", 1L)
    IcebergLite.deleteWhere(spark, table, "k", 2L, 3L)
    val snaps = IcebergLite.metadataTable(spark, table, "snapshots").collect()
    // snapshot ids skip 3: setRef landed metadata v3 without a snapshot
    snaps.map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L, 4L)
    snaps.map(_.getString(1)).toSeq shouldBe Seq("append", "append", "delete")
    snaps.map(_.getBoolean(4)).toSeq shouldBe Seq(false, false, true)
    val files = IcebergLite.metadataTable(spark, table, "files").collect()
    // 3 data files (2 + 1) and one position-delete file of 2 rows
    files.count(_.getInt(0) == 0) shouldBe 3
    files.filter(_.getInt(0) == 0).map(_.getLong(3)).sum shouldBe 7L
    val dels = files.filter(_.getInt(0) == 1)
    dels.length shouldBe 1
    dels.head.getLong(3) shouldBe 2L
    val mans = IcebergLite.metadataTable(spark, table, "manifests").collect()
    mans.length shouldBe 3 // 2 data manifests reused by ref + 1 delete
    mans.map(r => r.getLong(5)).sum shouldBe 4L // added: 2 + 1 + 1
    val refs = IcebergLite.metadataTable(spark, table, "refs").collect()
    refs.map(r => (r.getString(0), r.getString(1))).toSet shouldBe
      Set(("main", "branch"), ("rel", "tag"))
    refs.find(_.getString(0) == "main").get.getLong(2) shouldBe 4L
    refs.find(_.getString(0) == "rel").get.getLong(2) shouldBe 1L
    // compaction materializes deletes away and the inventory reflects it
    IcebergLite.rewriteDataFiles(spark, table)
    val after = IcebergLite.metadataTable(spark, table, "files").collect()
    after.count(_.getInt(0) != 0) shouldBe 0
    after.map(_.getLong(3)).sum shouldBe 5L // 7 rows - 2 deleted
    // partitions inventory: the unpartitioned table reports one NULL
    // partition whose recounted records equal the live row count
    val parts = IcebergLite.metadataTable(spark, table, "partitions").collect()
    parts.length shouldBe 1
    parts.head.isNullAt(0) shouldBe true
    parts.head.getLong(2) shouldBe 5L
    an[IllegalArgumentException] should be thrownBy
      IcebergLite.metadataTable(spark, table, "nope")
  }

  test("partitions metadata table: per-value file and record inventory") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_parts_mt")
    val spec = Some(IcebergLite.PartField.truncate("cat", 1))
    IcebergLite.write(spark,
      Seq(("aa", 1L), ("ab", 2L), ("bb", 3L)).toDF("cat", "v"), table,
      partitionField = spec)
    IcebergLite.write(spark, Seq(("ac", 4L)).toDF("cat", "v"), table,
      partitionField = spec)
    IcebergLite.metadataTable(spark, table, "partitions").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq shouldBe
      Seq(("a", 2L, 3L), ("b", 1L, 1L))
  }

  test("escaped partition values keep manifest record counts") {
    import spark.implicits._
    // 'a%x' escapes to _p=a%25x on disk; input_file_name() double-escapes
    // the literal '%' while listStatus is raw — decoding BOTH sides once
    // used to diverge the stats keys and record record_count = 0 in the
    // manifest (r11 advisor finding). partitions recounts from manifests.
    val table = graft.ingest.Sinks.tempDir("ice_pct_stats")
    IcebergLite.write(spark,
      Seq(("a%x", 1L), ("a%x", 2L), ("b:y", 3L)).toDF("cat", "v"), table,
      partitionField = Some(IcebergLite.PartField.truncate("cat", 3)))
    IcebergLite.metadataTable(spark, table, "partitions").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq shouldBe
      Seq(("a%x", 1L, 2L), ("b:y", 1L, 1L))
  }

  test("partitioned MOR: per-partition delete files, update keeps pruning effective") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_part_mor")
    val spec = Some(IcebergLite.PartField.truncate("cat", 1))
    IcebergLite.write(spark,
      Seq(("ax", 1L), ("ay", 2L), ("bx", 3L), ("by", 4L), ("cz", 5L))
        .toDF("cat", "v"), table, partitionField = spec)
    // MOR delete of v in [2,3] touches partitions a and b only
    val (_, nDel) = IcebergLite.deleteWhere(spark, table, "v", 2L, 3L)
    nDel shouldBe 2L
    IcebergLite.read(spark, table).select("v").as[Long].collect()
      .sorted shouldBe Seq(1L, 4L, 5L)
    // the DELETE manifest's entries carry the partition value (p0) and
    // per-file counts — one delete file per touched partition
    val meta = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$table/metadata/v${
        IcebergLite.latestMetadataVersion(spark, table)}.metadata.json")))
    val cur = meta.get("current-snapshot-id").asLong()
    val snapsIt = meta.get("snapshots").elements()
    var listPath: String = null
    while (snapsIt.hasNext) {
      val s = snapsIt.next()
      if (s.get("snapshot-id").asLong() == cur)
        listPath = s.get("manifest-list").asText()
    }
    val listFile = new java.io.File(listPath)
    val delManifests = avroRecords(listFile)
      .filter(r => r.getSchema.getField("content") != null &&
        r.get("content").asInstanceOf[Int] == 1)
    delManifests should have size 1
    val delEntries = avroRecords(new java.io.File(
      delManifests.head.get("manifest_path").toString))
    val byPart = delEntries.map { e =>
      val d = e.get("data_file").asInstanceOf[GenericRecord]
      val p = d.get("partition").asInstanceOf[GenericRecord]
      (p.get("p0").toString, d.get("record_count").asInstanceOf[Long])
    }.sortBy(_._1)
    byPart shouldBe Seq(("a", 1L), ("b", 1L))
    // partitioned MOR UPDATE: one snapshot, deletes + new data files all
    // carrying their partition; pruning stays exact afterwards
    val (_, nUpd) = IcebergLite.updateWhere(spark, table, "v", 4L, 5L,
      Map("v" -> (org.apache.spark.sql.functions.col("v") + 100L)))
    nUpd shouldBe 2L
    IcebergLite.read(spark, table).orderBy("v").as[(String, Long)]
      .collect() shouldBe Seq(("ax", 1L), ("by", 104L), ("cz", 105L))
    val (files, n, total) = IcebergLite.planPartitioned(spark, table, Set("b"))
    // b's files: the original commit file + the update's new b file
    n shouldBe 2L
    // raw (un-merged) content of b's files: bx + old by (both masked —
    // one by the delete, one by the update's position delete) + new by
    spark.read.parquet(files: _*).where($"cat".startsWith("b"))
      .count() shouldBe 3L
    // SET of the partition source column refuses (rows must not move)
    intercept[IllegalArgumentException] {
      IcebergLite.updateWhere(spark, table, "v", 1L, 1L,
        Map("cat" -> org.apache.spark.sql.functions.lit("zz")))
    }
    // time travel below the DML reads the original state
    IcebergLite.read(spark, table, snapshotId = 1L).count() shouldBe 5L
    // compaction materializes the partitioned deletes away
    IcebergLite.rewriteDataFiles(spark, table)
    IcebergLite.read(spark, table).select("v").as[Long].collect()
      .sorted shouldBe Seq(1L, 104L, 105L)
  }

  test("mergeInto refuses duplicate-key TARGET rows") {
    import spark.implicits._
    // the rewrite replaces all matched rows of a key with the ONE source
    // row — N target rows for one key would silently shrink to 1, so the
    // ambiguity refuses (r11 advisor finding)
    val table = graft.ingest.Sinks.tempDir("ice_merge_duptgt")
    IcebergLite.write(spark,
      Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("k", "v"), table)
    val ex = intercept[IllegalArgumentException] {
      IcebergLite.mergeInto(spark, table,
        Seq((1L, 100L)).toDF("k", "v"), "k")
    }
    ex.getMessage should include("TARGET")
    // unmatched duplicate target keys are no obstacle
    val (_, nU, nI) = IcebergLite.mergeInto(spark, table,
      Seq((2L, 200L), (3L, 30L)).toDF("k", "v"), "k")
    (nU, nI) shouldBe ((1L, 1L))
    IcebergLite.read(spark, table).orderBy("k", "v").as[(Long, Long)]
      .collect() shouldBe Seq((1L, 10L), (1L, 11L), (2L, 200L), (3L, 30L))
  }

  test("rollback: metadata-only head move, history preserved, next commit branches from the restored head") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_rollback")
    IcebergLite.write(spark, Seq((1L, 10L)).toDF("k", "v"), table) // snap 1
    IcebergLite.write(spark, Seq((2L, 20L)).toDF("k", "v"), table) // snap 2
    IcebergLite.write(spark, Seq((3L, 30L)).toDF("k", "v"), table) // snap 3
    val filesBefore = IcebergLite.snapshotFiles(spark, table, -1L).toSet
    val v = IcebergLite.rollbackTo(spark, table, 1L)
    v shouldBe IcebergLite.latestMetadataVersion(spark, table)
    // head moved, zero data I/O, bad snapshots still time-travelable
    IcebergLite.read(spark, table).as[(Long, Long)].collect().toSet shouldBe
      Set((1L, 10L))
    IcebergLite.read(spark, table, snapshotId = 3L).count() shouldBe 3L
    IcebergLite.snapshotFiles(spark, table, 3L).toSet shouldBe filesBefore
    // idempotent on the current head
    IcebergLite.rollbackTo(spark, table, 1L) shouldBe v
    // the next commit branches FROM the restored head
    IcebergLite.write(spark, Seq((9L, 90L)).toDF("k", "v"), table)
    IcebergLite.read(spark, table).as[(Long, Long)].collect().toSet shouldBe
      Set((1L, 10L), (9L, 90L))
    // divergence recorded: the new snapshot's parent is the restored head
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(table, "metadata",
        f"v${IcebergLite.latestMetadataVersion(spark, table)}%d.metadata.json")))
    val root = mapper.readTree(meta)
    var parentOfNew = -1L
    root.get("snapshots").forEach { s =>
      if (s.get("snapshot-id").asLong() ==
          root.get("current-snapshot-id").asLong())
        parentOfNew = s.get("parent-snapshot-id").asLong()
    }
    parentOfNew shouldBe 1L
    // unknown snapshot refuses
    an[IllegalArgumentException] should be thrownBy
      IcebergLite.rollbackTo(spark, table, 999L)
  }

  test("changelog: state-diff feed over appends, MOR delete/update, overwrite; replace invisible; expired refuses") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val table = graft.ingest.Sinks.tempDir("ice_changelog")
    IcebergLite.write(spark,
      (1L to 6L).map(k => (k, k * 10L)).toDF("k", "v"), table)    // snap 1
    IcebergLite.write(spark,
      Seq((7L, 70L), (8L, 80L)).toDF("k", "v"), table)            // snap 2
    IcebergLite.deleteWhere(spark, table, "k", 1L, 2L)            // snap 3 MOR
    IcebergLite.updateWhere(spark, table, "k", 5L, 6L,
      Map("v" -> (col("v") + lit(1L))))                           // snap 4 MOR
    IcebergLite.rewriteDataFiles(spark, table)                    // snap 5 replace
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "_change_type", "_snapshot_id")
        .as[(Long, Long, String, Long)].collect().toSet
    // full-range feed: every row change, attributed to its snapshot
    val full = rows(IcebergLite.readChangelog(spark, table, 0L, 5L))
    full shouldBe (
      (1L to 6L).map(k => (k, k * 10L, "insert", 1L)).toSet ++
      Set((7L, 70L, "insert", 2L), (8L, 80L, "insert", 2L),
        (1L, 10L, "delete", 3L), (2L, 20L, "delete", 3L),
        (5L, 50L, "delete", 4L), (6L, 60L, "delete", 4L),   // preimages
        (5L, 51L, "insert", 4L), (6L, 61L, "insert", 4L)))  // postimages
    // a sliced range sees only its snapshots' changes
    rows(IcebergLite.readChangelog(spark, table, 2L, 4L)) shouldBe Set(
      (1L, 10L, "delete", 3L), (2L, 20L, "delete", 3L),
      (5L, 50L, "delete", 4L), (6L, 60L, "delete", 4L),
      (5L, 51L, "insert", 4L), (6L, 61L, "insert", 4L))
    // a masked row never re-reports: re-delete overlapping 1..3 —
    // only the still-live row 3 surfaces
    IcebergLite.deleteWhere(spark, table, "k", 1L, 3L)            // snap 6
    rows(IcebergLite.readChangelog(spark, table, 5L, 6L)) shouldBe Set(
      (3L, 30L, "delete", 6L))
    // a COW overwrite reports at file grain: every live row deleted,
    // every new row inserted
    IcebergLite.write(spark, Seq((100L, 1L)).toDF("k", "v"), table,
      overwrite = true)                                           // snap 7
    val ow = rows(IcebergLite.readChangelog(spark, table, 6L, 7L))
    ow.filter(_._3 == "insert") shouldBe Set((100L, 1L, "insert", 7L))
    ow.filter(_._3 == "delete").map(r => (r._1, r._2)) shouldBe
      Set((4L, 40L), (5L, 51L), (6L, 61L), (7L, 70L), (8L, 80L))
    // replace-only ranges carry no row changes — refuse, never silence
    an[IllegalArgumentException] should be thrownBy
      IcebergLite.readChangelog(spark, table, 4L, 5L)
    // an expired snapshot in range refuses
    IcebergLite.expireSnapshots(spark, table, keepLast = 1)
    an[IllegalArgumentException] should be thrownBy
      IcebergLite.readChangelog(spark, table, 0L, 7L)
  }

  test("changelog net: COW carried-row pairs cancel, insert-then-delete vanishes, stacked updates fold to one") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val table = graft.ingest.Sinks.tempDir("ice_cl_net")
    IcebergLite.write(spark,
      (1L to 4L).map(k => (k, k * 10L)).toDF("k", "v"), table)    // snap 1
    // COW overwrite rewriting everything + adding 5,6: carried rows
    // 1..4 appear as delete+insert pairs in the raw feed
    IcebergLite.write(spark,
      (1L to 6L).map(k => (k, k * 10L)).toDF("k", "v"), table,
      overwrite = true)                                           // snap 2
    IcebergLite.deleteWhere(spark, table, "k", 5L, 5L)            // snap 3
    IcebergLite.updateWhere(spark, table, "k", 6L, 6L,
      Map("v" -> (col("v") + lit(1L))))                           // snap 4
    IcebergLite.updateWhere(spark, table, "k", 6L, 6L,
      Map("v" -> (col("v") + lit(1L))))                           // snap 5
    // raw feed over (1, 5]: carried pairs + churn all present
    val raw = IcebergLite.readChangelog(spark, table, 1L, 5L)
    raw.count() should be > 6L
    // net over (1,5]: carried 1..4 cancel, 5 inserted-then-deleted
    // vanishes, 6's whole churn (insert@2, two updates) folds to its
    // final value alone
    IcebergLite.readChangelogNet(spark, table, 1L, 5L)
      .select("k", "v", "_change_type", "_net")
      .as[(Long, Long, String, Long)].collect().toSet shouldBe
      Set((6L, 62L, "insert", 1L))
    // net over (2,5]: the pre-range values now surface as deletes
    IcebergLite.readChangelogNet(spark, table, 2L, 5L)
      .select("k", "v", "_change_type", "_net")
      .as[(Long, Long, String, Long)].collect().toSet shouldBe
      Set((5L, 50L, "delete", 1L), (6L, 60L, "delete", 1L),
        (6L, 62L, "insert", 1L))
    // full-range net == current table content (empty start)
    val full = IcebergLite.readChangelogNet(spark, table, 0L, 5L)
    full.where(col("_change_type") === "delete").count() shouldBe 0L
    full.select("k", "v").as[(Long, Long)].collect().toSet shouldBe
      IcebergLite.read(spark, table).as[(Long, Long)].collect().toSet
  }

  test("Puffin statistics: theta blobs round-trip, survive data commits, staleness flagged, corruption refuses") {
    import spark.implicits._
    val table = graft.ingest.Sinks.tempDir("ice_puffin")
    IcebergLite.write(spark,
      (0L until 200L).map(k => (k, s"cat-${k % 7}")).toDF("k", "cat")
        .repartition(4), table)
    // no statistics yet — refuse, never invent
    an[IllegalArgumentException] should be thrownBy
      IcebergLite.readStatistics(spark, table)
    val v = IcebergLite.writeStatistics(spark, table, Seq("k", "cat"))
    v shouldBe IcebergLite.latestMetadataVersion(spark, table)
    // exact-mode theta: estimates ARE the distinct counts; partitioning
    // didn't matter (4 partitions unioned)
    val stats = IcebergLite.readStatistics(spark, table)
    stats.map(s => (s._1, s._2, s._3, s._4)).toSet shouldBe
      Set(("k", 200L, 200L, false), ("cat", 7L, 7L, false))
    // the puffin FILE itself is spec-shaped: three magics, footer blob
    // list agreeing with the metadata copy
    val fs = new org.apache.hadoop.fs.Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val puffins = fs.listStatus(new org.apache.hadoop.fs.Path(table, "metadata"))
      .map(_.getPath).filter(_.getName.endsWith(".stats.puffin"))
    puffins.length shouldBe 1
    val bytes = {
      val in = fs.open(puffins.head)
      try { val b = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, b, 65536, false)
        b.toByteArray } finally in.close()
    }
    val (metas, payloads, fileProps) = graft.sources.Puffin.read(bytes)
    metas.map(_.blobType).toSet shouldBe Set("apache-datasketches-theta-v1")
    metas.map(_.fields) shouldBe Seq(Seq(1), Seq(2))
    payloads.foreach(_.length should be > 8)
    fileProps("created-by") should include("graft")
    // statistics SURVIVE a later data commit (carried verbatim), and the
    // reader flags them STALE against the new snapshot
    IcebergLite.write(spark, Seq((1000L, "cat-new")).toDF("k", "cat"), table)
    val stale = IcebergLite.readStatistics(spark, table)
    stale.map(_._4).toSet shouldBe Set(true)
    stale.find(_._1 == "k").get._2 shouldBe 200L // still the OLD snapshot's count
    // recompute at the new snapshot: fresh entry replaces nothing (new
    // snapshot id), estimates track the appended data
    IcebergLite.writeStatistics(spark, table, Seq("k", "cat"))
    val fresh = IcebergLite.readStatistics(spark, table)
      .filter(!_._4)
    fresh.map(s => (s._1, s._2)).toSet shouldBe
      Set(("k", 201L), ("cat", 8L))
    // corruption refuses: flip a byte inside the footer magic
    val corrupt = bytes.clone()
    corrupt(corrupt.length - 1) = 'X'.toByte
    val ex = intercept[IllegalArgumentException] {
      graft.sources.Puffin.read(corrupt)
    }
    ex.getMessage should include("magic")
  }

  test("puffin NDV steers the join: statistics blob flips shuffle → broadcast-prefilter plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val lt = graft.ingest.Sinks.tempDir("puffin_left")
    val rt = graft.ingest.Sinks.tempDir("puffin_right")
    // left: many rows, FEW distinct keys (the high-fan-in dimension
    // shape); right: wide key space
    IcebergLite.write(spark,
      (1L to 5000L).map(i => (i % 40L, i)).toDF("k", "v"), lt)
    IcebergLite.write(spark,
      (0L to 4999L).map(i => (i, i * 2)).toDF("k", "w"), rt)
    def run(bb: Long) = graft.plans.PuffinPlanner.join(
      spark, lt, rt, "k", "k", broadcastBytes = bb)
    // no statistics written + bytes too big to broadcast → plain shuffle
    val (plain, s0) = run(1L)
    s0 shouldBe "shuffle"
    val expect = plain.count()
    // the blob flips the plan: left's NDV (40) licenses the broadcast
    // key-set prefilter — and the answer is unchanged
    IcebergLite.writeStatistics(spark, lt, Seq("k"))
    val (pre, s1) = run(1L)
    s1 shouldBe "ndv_prefilter"
    pre.count() shouldBe expect
    pre.queryExecution.executedPlan.toString should
      include("BroadcastHashJoin")
    // a STALE blob must not license anything: advance the table, flip back
    IcebergLite.write(spark, Seq((999L, 999L)).toDF("k", "v"), lt)
    run(1L)._2 shouldBe "shuffle"
    // exact manifest bytes pick plain broadcast when a side fits
    run(100L << 20)._2 shouldBe "broadcast"
  }

  test("partition transforms: spec test vectors (bucket murmur3 seed 0, temporal ordinals)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // spec Appendix B pins hash(34) = 2017239379 for int/long buckets
    org.apache.spark.unsafe.hash.Murmur3_x86_32
      .hashLong(34L, 0) shouldBe 2017239379
    IcebergLite.PartField.bucket("k", 16).valueOf(34L) shouldBe
      (2017239379 % 16).toString
    // the codegen'd expression agrees with the driver-side twin
    val pf = IcebergLite.PartField.bucket("k", 8)
    val viaExpr = Seq(10L, 11L, 12L).toDF("k")
      .select(pf.valueColumn(col("k")).as("b")).as[String].collect()
    viaExpr shouldBe Seq("4", "7", "4")
    viaExpr shouldBe Seq(10L, 11L, 12L).map(pf.valueOf)
    // temporal ordinals — the spec's examples: 2017-11-16 → day 17486,
    // month 574, year 47; 22:31:08 that day → hour 419686
    val ts = java.sql.Timestamp.valueOf("2017-11-16 22:31:08")
    val one = Seq(ts).toDF("ts")
    def v(k: IcebergLite.PartField): String =
      one.select(k.valueColumn(col("ts"))).as[String].head()
    v(IcebergLite.PartField.day("ts")) shouldBe "17486"
    v(IcebergLite.PartField.month("ts")) shouldBe "574"
    v(IcebergLite.PartField.year("ts")) shouldBe "47"
    v(IcebergLite.PartField.hour("ts")) shouldBe "419686"
    // driver twins agree
    IcebergLite.PartField.day("ts").valueOf(ts) shouldBe "17486"
    IcebergLite.PartField.hour("ts").valueOf(ts) shouldBe "419686"
    IcebergLite.PartField.day("ts")
      .valueOf(java.time.LocalDate.of(2017, 11, 16)) shouldBe "17486"
  }

  test("day-partitioned table: hidden partitioning prunes by manifests; bucket table prunes by key hash") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_date}
    val table = graft.ingest.Sinks.tempDir("ice_day_part")
    val rows = (0 until 96).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-01-${i / 4 + 1}%02d 0${i % 4}:00:00"),
        i.toLong)
    }
    IcebergLite.write(spark, rows.toDF("ts", "v"), table,
      partitionField = Some(IcebergLite.PartField.day("ts")))
    // 24 day-partitions; a 3-day window scans exactly 3 files
    val d0 = java.time.LocalDate.of(2024, 1, 5).toEpochDay
    val wanted = (d0 to d0 + 2).map(_.toString).toSet
    val (files, matched, total) =
      IcebergLite.planPartitioned(spark, table, wanted)
    total shouldBe 24L
    matched shouldBe 3L
    spark.read.parquet(files: _*).count() shouldBe 12L // 4 rows/day
    // the source column is UNTOUCHED in the data files (hidden layout)
    spark.read.parquet(files: _*).columns.toSet shouldBe Set("ts", "v")
    // bucket[8]: pruning by key hash, spec-exact buckets
    val bt = graft.ingest.Sinks.tempDir("ice_bucket_part")
    IcebergLite.write(spark, (1L to 64L).map(k => (k, k * 10)).toDF("k", "v"),
      bt, partitionField = Some(IcebergLite.PartField.bucket("k", 8)))
    val pf = IcebergLite.PartField.bucket("k", 8)
    val (bFiles, bMatched, bTotal) = IcebergLite.planPartitioned(spark, bt,
      Set(pf.valueOf(11L)))
    bTotal shouldBe 8L
    bMatched shouldBe 1L
    spark.read.parquet(bFiles: _*).where(col("k") === 11L)
      .select("v").as[Long].collect() shouldBe Seq(110L)
    // spec evolution interplay: evolve day → unpartitioned, then back;
    // old manifests keep pruning under their own spec
    IcebergLite.evolvePartitionSpec(spark, table, None)
    IcebergLite.write(spark,
      Seq((java.sql.Timestamp.valueOf("2024-01-05 09:00:00"), 999L))
        .toDF("ts", "v"), table)
    IcebergLite.evolvePartitionSpec(spark, table,
      Some(IcebergLite.PartField.day("ts")))
    val (files2, m2, t2) = IcebergLite.planPartitioned(spark, table, wanted)
    // old day-manifests still prune (3 of 24) + the unpartitioned file
    // is kept conservatively (no residual under its spec)
    m2 shouldBe 4L
    t2 shouldBe 25L
    spark.read.parquet(files2: _*)
      .where(to_date(col("ts")).between("2024-01-05", "2024-01-07"))
      .count() shouldBe 13L
  }

  test("pin-to-commit: a replacement refuses when the head moved past " +
      "the version its conflict checks validated") {
    import spark.implicits._
    val t = Sinks.tempDir("ice_pin_to_commit")
    IcebergLite.write(spark, Seq((1L, 1L)).toDF("k", "v"), t)
    // the version the (simulated) liveness checks ran against
    val pinned = IcebergLite.latestMetadataVersion(spark, t)
    // an interleaving commit lands between the checks and the commit
    IcebergLite.write(spark, Seq((2L, 2L)).toDF("k", "v"), t)
    val metaFiles = new java.io.File(t, "metadata").list().toSet
    // the attempt pinned to the old version must lose its claim, NOT
    // land a snapshot whose conflict checks never saw the interloper
    // (the SqlConcurrency UPDATE-vs-OPTIMIZE duplicate-rows
    // falsification), and must take back every manifest it staged
    IcebergLite.commitReplaceFilesAt(spark, t, Nil, Nil, "TEST-REPLACE",
      Map.empty, None, prevV = pinned) shouldBe None
    IcebergLite.latestMetadataVersion(spark, t) shouldBe pinned + 1
    new java.io.File(t, "metadata").list().toSet shouldBe metaFiles
    // and with the pin matching the actual head it commits fine
    val head = IcebergLite.latestMetadataVersion(spark, t)
    IcebergLite.commitReplaceFilesAt(spark, t, Nil, Nil, "TEST-REPLACE",
      Map.empty, None, prevV = head) shouldBe Some(head + 1L)
    IcebergLite.read(spark, t).as[(Long, Long)].collect().sorted shouldBe
      Seq((1L, 1L), (2L, 2L))
  }
}
