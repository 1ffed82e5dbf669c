package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructType}

/** A minimal Apache Iceberg v1 TABLE-FORMAT implementation against the
  * PUBLIC specification (iceberg.apache.org/spec/) — with [[DeltaLite]],
  * this closes the r08 verdict's "Delta/Iceberg" missing item entirely
  * jar-free. Iceberg's layout is three layers of metadata over parquet
  * data files, and every layer is writable with what ships in the Spark
  * distribution:
  *
  *   - `metadata/v<N>.metadata.json` — table metadata (Jackson): schema
  *     with Iceberg field ids, snapshot list, current snapshot pointer;
  *     a new metadata version is claimed by ATOMIC CREATE (the
  *     [[CommitLog.tryCommit]] arbiter — Iceberg's HadoopCatalog commits
  *     exactly this way, via rename-if-absent).
  *   - `metadata/snap-<id>.avro` — the snapshot's MANIFEST LIST (bundled
  *     Avro; spec field-ids 500-503 carried as `field-id` schema props):
  *     one row per manifest, so a reader plans a snapshot from one small
  *     file.
  *   - `metadata/<id>-m0.avro` — MANIFESTs: `manifest_entry` records
  *     (status + nested `data_file` struct, spec field-ids 100-105) — one
  *     row per data file with record count and size, the statistics layer
  *     file pruning hangs off.
  *
  * Format-version 2 (row-level deletes) is implemented with BOTH delete
  * kinds: [[deleteWhere]] commits (file_path, pos) POSITION-delete files
  * under content=1 DELETE manifests, [[deleteWhereEquality]] commits
  * value-list EQUALITY deletes (content=2, the streaming-upsert kind),
  * [[read]] merges both with per-kind sequence gating,
  * [[updateWhere]] is the merge-on-read UPDATE (one snapshot, both
  * manifest kinds), [[mergeInto]] is a file-granular copy-on-write MERGE,
  * [[evolvePartitionSpec]] evolves hidden partitioning without rewrites,
  * and [[rewriteDataFiles]] materializes deletes away.
  * Conformance subset (documented, not hidden): the spec's column-stats
  * maps (`statsColumns`), Puffin table statistics ([[writeStatistics]])
  * and format-v3 Puffin deletion vectors ([[deleteWhereDV]]) are
  * written; split offsets are not. `version-hint.text` is rewritten
  * after every won metadata claim ([[claimMetadata]]) — advisory, as the
  * spec marks it: the authoritative pointer is the highest committed
  * metadata version. Every metadata version is claimed inside
  * [[Occ.commit]], so a lost claim replans on the new head.
  *
  * Scale shape: all three metadata layers are control-plane (small files,
  * parsed driver-side — Iceberg's own planning path); the data plane is
  * ONE multi-path parquet scan of the snapshot's live files. Appends add
  * a manifest and REUSE prior manifests by reference in the new manifest
  * list — commit cost is O(new files), not O(table).
  */
object IcebergLite {

  /** One declared partition field (spec §Partition Transforms): the spec
    * transform string applied to a source column. Supported transforms —
    * `truncate[w]` (string source, w-prefix), `bucket[n]` (long source,
    * the spec's seed-0 Murmur3 via [[graft.functions.IcebergBucket]]),
    * and the temporal family `year | month | day | hour` (timestamp
    * source; `day` also takes date) producing the spec's
    * years/months/days/hours-since-epoch ordinals. The reference's one
    * physical layout is ingestion-TIME partitioning (`_PARTITIONTIME`
    * 30-day pruning, `Sites/DataProc_Script/
    * verifica_carga_slmandicprd.py:74-79`) — `day` is how Iceberg
    * expresses exactly that; `bucket[n]` is the prerequisite for
    * storage-partitioned (shuffle-free) joins.
    *
    * Subset note: manifests record the transform VALUE as a string
    * (`p0`), typed consistently by writer and reader ([[valueColumn]] /
    * [[valueOf]] are the single sources of truth). */
  final case class PartField(source: String, transform: String) {
    val kind: String = transform.takeWhile(_ != '[')
    val param: Int =
      if (transform.endsWith("]"))
        transform.substring(transform.indexOf('[') + 1,
          transform.length - 1).toInt
      else 0
    require(PartField.Kinds.contains(kind),
      s"transform $transform outside the IcebergLite subset " +
        s"(${PartField.Kinds.mkString("|")})")
    require(!Set("truncate", "bucket").contains(kind) || param > 0,
      s"$transform needs a positive parameter")

    /** Spec field name (arbitrary per spec; stable here). */
    def fieldName: String = s"${source}_$kind"

    /** The per-row transform value, AS THE STRING the manifests record.
      * Computed inside whole-stage codegen (built-in functions + the
      * codegen'd [[graft.functions.IcebergBucket]]). */
    def valueColumn(c: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions.{datediff, lit, month, pmod, substring, to_date, year}
      import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}
      kind match {
        case "identity" => c.cast("string")
        case "truncate" => substring(c, 1, param)
        case "bucket" =>
          column(graft.functions.IcebergBucket(
            expression(c.cast("long")), param)).cast("string")
        case "year" => (year(c) - lit(1970)).cast("string")
        case "month" =>
          ((year(c) - lit(1970)) * 12 + month(c) - 1).cast("string")
        case "day" =>
          datediff(to_date(c), lit("1970-01-01")).cast("string")
        case "hour" =>
          // exact floor division via pmod (cast timestamp→long = seconds)
          ((c.cast("long") - pmod(c.cast("long"), lit(3600L))) / 3600L)
            .cast("long").cast("string")
      }
    }

    /** Driver-side twin of [[valueColumn]] for planning literals: the
      * transform value a predicate constant lands in. Temporal inputs
      * take `java.time` types (UTC, the engine's session zone). */
    def valueOf(v: Any): String = kind match {
      case "identity" => v.toString
      case "truncate" =>
        // CODEPOINT truncation, matching Spark's substring (the codegen
        // twin): Java's substring counts UTF-16 units and would split a
        // surrogate pair one character early on astral-plane text
        val s = v.toString
        s.substring(0, s.offsetByCodePoints(0,
          math.min(param, s.codePointCount(0, s.length))))
      case "bucket" =>
        ((org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(
          v.asInstanceOf[Number].longValue(), 0) & Int.MaxValue) % param)
          .toString
      case _ =>
        val odt = v match {
          case i: java.time.Instant => i.atOffset(java.time.ZoneOffset.UTC)
          case d: java.time.LocalDate => d.atStartOfDay()
            .atOffset(java.time.ZoneOffset.UTC)
          case t: java.sql.Timestamp => t.toInstant
            .atOffset(java.time.ZoneOffset.UTC)
          case other => throw new IllegalArgumentException(
            s"$kind transform plans over java.time values, got $other")
        }
        val epoch = java.time.OffsetDateTime.of(1970, 1, 1, 0, 0, 0, 0,
          java.time.ZoneOffset.UTC)
        val n = kind match {
          case "year" => odt.getYear - 1970
          case "month" => (odt.getYear - 1970) * 12 + odt.getMonthValue - 1
          case "day" => java.time.temporal.ChronoUnit.DAYS
            .between(epoch.toLocalDate, odt.toLocalDate).toInt
          case "hour" =>
            // FLOOR division, matching the codegen twin's pmod form:
            // ChronoUnit.HOURS.between truncates toward zero, which
            // disagrees one bucket on every pre-epoch timestamp
            math.floorDiv(odt.toEpochSecond, 3600L).toInt
        }
        n.toString
    }
  }

  object PartField {
    private[IcebergLite] val Kinds =
      Set("identity", "truncate", "bucket", "year", "month", "day", "hour")
    def identity(source: String): PartField = PartField(source, "identity")
    def truncate(source: String, w: Int): PartField =
      PartField(source, s"truncate[$w]")
    def bucket(source: String, n: Int): PartField =
      PartField(source, s"bucket[$n]")
    def day(source: String): PartField = PartField(source, "day")
    def hour(source: String): PartField = PartField(source, "hour")
    def month(source: String): PartField = PartField(source, "month")
    def year(source: String): PartField = PartField(source, "year")
  }

  private val mapper = new ObjectMapper()

  private def hadoopFs(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def metaDir(table: String) = new Path(table, "metadata")

  private def metaFile(table: String, v: Int) =
    new Path(metaDir(table), s"v$v.metadata.json")

  /** Manifest-list Avro schema — spec field-ids 500/501/502/503. */
  private val manifestListSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |  {"name":"manifest_path","type":"string","field-id":500},
      |  {"name":"manifest_length","type":"long","field-id":501},
      |  {"name":"partition_spec_id","type":"int","field-id":502},
      |  {"name":"added_snapshot_id","type":"long","field-id":503}
      |]}""".stripMargin)

  /** v2 manifest-list schema — v1's fields plus the format-version-2
    * columns that make row-level deletes plannable from the list alone:
    * `content` (field-id 517: 0 = data manifest, 1 = DELETE manifest) and
    * `sequence_number` (field-id 515: the commit order deletes apply
    * against — a position delete applies to data files with sequence ≤
    * its own). */
  private val manifestListSchemaV2: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |  {"name":"manifest_path","type":"string","field-id":500},
      |  {"name":"manifest_length","type":"long","field-id":501},
      |  {"name":"partition_spec_id","type":"int","field-id":502},
      |  {"name":"content","type":"int","default":0,"field-id":517},
      |  {"name":"sequence_number","type":"long","default":0,"field-id":515},
      |  {"name":"added_snapshot_id","type":"long","field-id":503}
      |]}""".stripMargin)

  /** One manifest-list row, v1/v2-agnostic: v1 lists lack content and
    * sequence_number — content defaults to DATA, sequence to the adding
    * snapshot's id (this writer's ids are the monotone commit order, so
    * the mapping satisfies the spec's ordering contract). `specId` is the
    * partition spec the manifest's files were written under (field-id
    * 502) — the handle partition-spec EVOLUTION hangs off: old manifests
    * keep their spec id forever, and [[planPartitioned]] evaluates each
    * manifest against its OWN spec. */
  private final case class MEntry(path: String, len: Long, addedSid: Long,
      content: Int, seq: Long, specId: Int = 0)

  private def listEntries(fs: FileSystem, listPath: Path): Seq[MEntry] =
    readAvroFile(fs, listPath).map { r =>
      val sid = r.get("added_snapshot_id").asInstanceOf[Long]
      // v1 lists lack these fields entirely; Avro >= 1.9 THROWS on
      // get(<absent field>) rather than returning null, so presence must
      // be checked against the record's writer schema, not the value.
      val content =
        if (r.getSchema.getField("content") == null) 0
        else r.get("content").asInstanceOf[Int]
      val seq =
        if (r.getSchema.getField("sequence_number") == null) sid
        else r.get("sequence_number").asInstanceOf[Long]
      MEntry(r.get("manifest_path").toString,
        r.get("manifest_length").asInstanceOf[Long], sid, content, seq,
        r.get("partition_spec_id").asInstanceOf[Int])
    }

  /** Write a manifest list; the v2 schema is used exactly when the table
    * is format-version 2 (so v1 tables keep byte-stable v1 lists). */
  private def writeManifestList(table: String, listName: String,
      entries: Seq[MEntry], v2: Boolean): Unit = {
    val schema = if (v2) manifestListSchemaV2 else manifestListSchema
    val records = entries.map { e =>
      val r = new GenericData.Record(schema)
      r.put("manifest_path", e.path)
      r.put("manifest_length", e.len)
      r.put("partition_spec_id", e.specId)
      if (v2) {
        r.put("content", e.content)
        r.put("sequence_number", e.seq)
      }
      r.put("added_snapshot_id", e.addedSid)
      r
    }
    writeAvroFile(new File(new File(table, "metadata"), listName),
      schema, records)
  }

  /** Manifest-entry Avro schema — status + nested data_file with the
    * required v1 fields (100-105). The partition struct (field-id 102) is
    * empty for unpartitioned tables and carries one `p0` field (Iceberg
    * partition-field ids start at 1000) for the truncate-partitioned
    * variant — the manifest row is where partition values live, which is
    * what makes manifest-level scan pruning possible without opening any
    * data file. */
  private def entrySchemaFor(partitioned: Boolean,
      withBounds: Boolean = false, withContent: Boolean = false,
      withColStats: Boolean = false, withDvRef: Boolean = false,
      withSeq: Boolean = false): Schema = {
    require(!(withBounds && withColStats),
      "legacy single-column bounds and spec column-stats maps are " +
        "mutually exclusive manifest layouts")
    val partFields =
      if (partitioned)
        """{"name":"p0","type":["null","string"],"default":null,"field-id":1000}"""
      else ""
    // the spec's per-file column bounds (lower_bounds/upper_bounds,
    // field-ids 125/128) for ONE declared long column — the value-range
    // subset of Iceberg's bytes-map encoding, stated as such
    val boundFields =
      if (withBounds)
        """,{"name":"lower_bound","type":["null","long"],"default":null,"field-id":125},
          |{"name":"upper_bound","type":["null","long"],"default":null,"field-id":128}""".stripMargin
      else ""
    // the spec's FULL column-statistics encoding: null_value_counts
    // (field-id 110, k121/v122) and lower_bounds/upper_bounds (125/128,
    // k126/v127 & k129/v130) as field-id-keyed entry lists with
    // single-value binary bounds (longs 8 LE bytes; strings UTF-8,
    // truncated to 16 chars — upper bounds char-incremented to stay
    // upper after truncation, the spec's rule)
    val colStatFields =
      if (withColStats)
        """,{"name":"null_value_counts","type":["null",{"type":"array","items":{
          |  "type":"record","name":"k121_v122","fields":[
          |    {"name":"key","type":"int","field-id":121},
          |    {"name":"value","type":"long","field-id":122}]}}],
          |  "default":null,"field-id":110},
          |{"name":"lower_bounds","type":["null",{"type":"array","items":{
          |  "type":"record","name":"k126_v127","fields":[
          |    {"name":"key","type":"int","field-id":126},
          |    {"name":"value","type":"bytes","field-id":127}]}}],
          |  "default":null,"field-id":125},
          |{"name":"upper_bounds","type":["null",{"type":"array","items":{
          |  "type":"record","name":"k129_v130","fields":[
          |    {"name":"key","type":"int","field-id":129},
          |    {"name":"value","type":"bytes","field-id":130}]}}],
          |  "default":null,"field-id":128}""".stripMargin
      else ""
    // v2 data_file.content (field-id 134): 0 = data, 1 = position deletes,
    // 2 = equality deletes — written in DELETE manifests so readers can
    // apply each kind's own sequence rule
    val contentField =
      if (withContent)
        """,{"name":"content","type":"int","default":0,"field-id":134}"""
      else ""
    // v3 DELETION VECTORS (spec §Deletion vectors): a content=1 entry
    // whose file is a PUFFIN blob carrier — referenced_data_file names
    // the ONE data file the vector masks, content_offset/size locate the
    // `deletion-vector-v1` blob inside the Puffin file (field-ids
    // 143/144/145, the spec's own)
    val dvFields =
      if (withDvRef)
        """,{"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
          |{"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
          |{"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}""".stripMargin
      else ""
    // the spec's ENTRY-LEVEL sequence_number (field-id 3): normally
    // inherited from the manifest-list row, but a manifest REWRITE
    // (rewriteManifests) must carry each entry's ORIGINAL sequence
    // explicitly — readers prefer the entry's own value when present
    val seqField =
      if (withSeq)
        """{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},"""
      else ""
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |  {"name":"status","type":"int","field-id":0},
         |  {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
         |  $seqField
         |  {"name":"data_file","field-id":2,"type":{
         |    "type":"record","name":"r2","fields":[
         |      {"name":"file_path","type":"string","field-id":100},
         |      {"name":"file_format","type":"string","field-id":101},
         |      {"name":"partition","field-id":102,
         |        "type":{"type":"record","name":"r102","fields":[$partFields]}},
         |      {"name":"record_count","type":"long","field-id":103},
         |      {"name":"file_size_in_bytes","type":"long","field-id":104},
         |      {"name":"block_size_in_bytes","type":"long","field-id":105}$boundFields$colStatFields$contentField$dvFields
         |  ]}}
         |]}""".stripMargin)
  }

  /** Single-value binary serialization of a bound (spec Appendix D):
    * longs as 8 little-endian bytes; strings as UTF-8 truncated to 16
    * CODE POINTS (a UTF-16 cut could split a surrogate pair) —
    * `upper = true` increments the last kept code point, skipping the
    * surrogate block, so a truncated value stays an UPPER bound in UTF-8
    * byte order (None when no code point can be incremented). */
  private def boundBytes(v: Any, upper: Boolean): Option[Array[Byte]] =
    v match {
      case null => None
      case l: java.lang.Long => Some(java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(l).array())
      case s: String =>
        val cps = s.codePoints().toArray
        if (cps.length <= 16) Some(s.getBytes(StandardCharsets.UTF_8))
        else if (!upper)
          Some(new String(cps, 0, 16).getBytes(StandardCharsets.UTF_8))
        else {
          val idx = cps.lastIndexWhere(_ != Character.MAX_CODE_POINT, 15)
          if (idx < 0) None // nothing incrementable: drop the bound
          else {
            val next = cps(idx) + 1
            val bumped = cps.take(idx) :+
              (if (next == Character.MIN_SURROGATE) 0xE000 else next)
            Some(new String(bumped, 0, bumped.length)
              .getBytes(StandardCharsets.UTF_8))
          }
        }
      case other => throw new IllegalArgumentException(
        s"column-stats bound over unsupported type: $other")
    }

  /** Entry schema for DELETE manifests — carries data_file.content so
    * readers can tell position deletes (1) from equality deletes (2). */
  private val deleteEntrySchema: Schema =
    entrySchemaFor(partitioned = false, withContent = true)

  /** DELETE-manifest entry schema for PARTITIONED tables: the partition
    * record carries the delete file's transform value (p0), so a
    * partition-restricted scan can prune delete files exactly like data
    * files (spec §Scan Planning — delete files are selected per
    * partition). */
  private val deleteEntrySchemaPartitioned: Schema =
    entrySchemaFor(partitioned = true, withContent = true)

  /** v3 DELETION-VECTOR manifest entry schema: content=1 entries whose
    * file is a Puffin blob carrier with the spec's reference triple. */
  private val deleteEntrySchemaDv: Schema =
    entrySchemaFor(partitioned = false, withContent = true,
      withDvRef = true)

  /** Partitioned variant: each vector entry records its referenced data
    * file's partition value, so a partition-restricted scan loads only
    * its own partition's vectors. */
  private val deleteEntrySchemaDvPartitioned: Schema =
    entrySchemaFor(partitioned = true, withContent = true,
      withDvRef = true)

  /** Spark → Iceberg primitive type names (the subset the fixture tables
    * use; Iceberg types are lowercase strings in metadata JSON). */
  private def icebergType(dt: org.apache.spark.sql.types.DataType): String =
    dt match {
      case LongType => "long"
      case DoubleType => "double"
      case StringType => "string"
      case org.apache.spark.sql.types.IntegerType => "int"
      case org.apache.spark.sql.types.BooleanType => "boolean"
      case org.apache.spark.sql.types.FloatType => "float"
      case org.apache.spark.sql.types.DateType => "date"
      case org.apache.spark.sql.types.TimestampType => "timestamp"
      case org.apache.spark.sql.types.TimestampNTZType => "timestamp"
      case other => throw new IllegalArgumentException(
        s"type ${other.simpleString} outside the IcebergLite subset")
    }

  def latestMetadataVersion(spark: SparkSession, table: String): Int = {
    val fs = hadoopFs(spark, table)
    val dir = metaDir(table)
    if (!fs.exists(dir)) 0
    else fs.listStatus(dir).map(_.getPath.getName)
      .flatMap { n =>
        if (n.startsWith("v") && n.endsWith(".metadata.json"))
          scala.util.Try(
            n.stripPrefix("v").stripSuffix(".metadata.json").toInt).toOption
        else None
      }.foldLeft(0)(math.max)
  }

  private def readMetadata(fs: FileSystem, table: String, v: Int)
      : com.fasterxml.jackson.databind.JsonNode = {
    val in = fs.open(metaFile(table, v))
    try mapper.readTree(in) finally in.close()
  }

  private def writeAvroFile(path: File, schema: Schema,
      records: Seq[GenericRecord]): Long = {
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, path)
    records.foreach(w.append)
    w.close()
    path.length()
  }

  private def readAvroFile(fs: FileSystem, p: Path): Seq[GenericRecord] = {
    val in = fs.open(p)
    val bytes = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
      buf.toByteArray
    } finally in.close()
    val r = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(bytes), new GenericDatumReader[GenericRecord]())
    val out = mutable.ArrayBuffer.empty[GenericRecord]
    while (r.hasNext) out += r.next()
    r.close()
    out.toSeq
  }

  /** Commit `df` as a new snapshot. `overwrite = true` starts the manifest
    * list fresh (prior data files leave the snapshot); append reuses every
    * prior manifest BY REFERENCE — commit cost is O(new files). Returns
    * the new snapshot id (= metadata version).
    *
    * `partitionTruncate = Some((col, w))` declares the table HIDDEN-
    * partitioned by the spec transform `truncate[w]` on a string source
    * column: data files are physically split by the transform value, the
    * value is recorded in each file's manifest row (never in the data
    * file — the source column stays there untouched), and
    * [[planPartitioned]] prunes scans off the manifests alone. Every
    * commit to a partitioned table must declare the SAME spec. */
  /** CREATE TABLE — commit an EMPTY first snapshot (a manifest list with
    * zero manifests): the table exists with its schema and partition
    * spec declared, every reader sees zero rows, and subsequent
    * [[write]]s append under snapshot 1. The DDL half of the SQL front
    * door's `CREATE TABLE` / CTAS ([[graft.sources.v2.GraftCatalog]]).
    * Cost: one empty avro + one metadata JSON; no data plane. */
  def createTable(spark: SparkSession, table: String, schema: StructType,
      partitionField: Option[PartField] = None): Long = {
    val fs = hadoopFs(spark, table)
    Occ.commit("CREATE TABLE", table)(latestMetadataVersion(spark, table)) {
        prevV =>
      // a writer that lost v1 to a concurrent CREATE refuses here on retry
      require(prevV == 0,
        s"$table already has Iceberg metadata — CREATE TABLE refuses to clobber")
      fs.mkdirs(metaDir(table))
      val token = java.util.UUID.randomUUID().toString.take(8)
      val listName = s"snap-1-$token.avro"
      writeManifestList(table, listName, Seq.empty, v2 = false)
      if (commitMetadataJson(fs, table, 0, None, 1, 1L, schema,
          partitionField, listName, "append", Map.empty)) Some(1L)
      else { fs.delete(new Path(metaDir(table), listName), false); None }
    }
  }

  def write(spark: SparkSession, df: DataFrame, table: String,
      overwrite: Boolean = false,
      partitionField: Option[PartField] = None,
      summaryProps: Map[String, String] = Map.empty,
      boundsColumn: Option[String] = None,
      operation: Option[String] = None,
      formatV2: Boolean = false,
      toBranch: Option[String] = None,
      statsColumns: Seq[String] = Nil,
      timestampMs: Long = 0L,
      requireSourceSnapshot: Option[Long] = None): Long =
    // optimistic-concurrency retry (Iceberg's own commit model): a lost
    // metadata-version race cleans up this attempt's commit-private
    // artifacts (staged data, manifest, manifest list) and replans from
    // the winner's metadata — both writers' rows land, in two snapshots.
    // EXCEPT when the caller staged a REPLACEMENT of a specific source
    // snapshot (requireSourceSnapshot, X304 — rewriteDataFiles): a
    // retried overwrite would re-commit rows staged from the OLD head
    // and silently undo whatever the race winner wrote; the per-attempt
    // check in [[writeAt]] refuses loudly instead.
    Occ.commit("write", table)(latestMetadataVersion(spark, table))(
      writeAt(spark, df, table, _, overwrite, partitionField, summaryProps,
        boundsColumn, operation, formatV2, toBranch, statsColumns,
        timestampMs, requireSourceSnapshot))

  /** One [[write]] attempt against metadata version `prevV` (0 before the
    * first commit): None when another writer claimed `prevV + 1`. */
  private def writeAt(spark: SparkSession, df: DataFrame, table: String,
      prevV: Int,
      overwrite: Boolean,
      partitionField: Option[PartField],
      summaryProps: Map[String, String],
      boundsColumn: Option[String],
      operation: Option[String] = None,
      formatV2: Boolean = false,
      toBranch: Option[String] = None,
      statsColumns: Seq[String] = Nil,
      timestampMs: Long = 0L,
      requireSourceSnapshot: Option[Long] = None): Option[Long] = {
    require(boundsColumn.isEmpty || statsColumns.isEmpty,
      "boundsColumn (legacy long bounds) and statsColumns (spec " +
        "column-stats maps) are mutually exclusive")
    statsColumns.foreach(c => require(df.schema.fieldNames.contains(c),
      s"stats column $c absent from the schema"))
    val fs = hadoopFs(spark, table)
    fs.mkdirs(metaDir(table))
    if (prevV > 0) {
      val priorSpec = partitionSpec(readMetadata(fs, table, prevV))
      require(priorSpec == partitionField,
        s"partition spec mismatch on $table: table has $priorSpec, " +
          s"commit declares $partitionField")
    }
    // a REPLACEMENT pinned to a source snapshot commits only while that
    // snapshot is still the head (X304): a concurrent commit's rows
    // must never be undone by stale staged data. The arbiter CAS below
    // makes the check-commit pair atomic — a commit sneaking in after
    // this check loses us the CAS, and the retry re-checks.
    requireSourceSnapshot.foreach { srcSnap =>
      val cur =
        if (prevV > 0)
          readMetadata(fs, table, prevV).get("current-snapshot-id").asLong()
        else -1L
      require(cur == srcSnap,
        s"replace on $table conflicts with a concurrent commit: staged " +
          s"from snapshot $srcSnap but the head is now $cur — re-run " +
          "against the new snapshot")
    }
    val snapshotId = prevV + 1L
    val prevMeta = if (prevV > 0) Some(readMetadata(fs, table, prevV)) else None
    // stage data files (commit-private dir, the DeltaLite discipline):
    // one file per transform value per task on a partitioned table
    val token = java.util.UUID.randomUUID().toString.take(8)
    val staged = s"data/s$snapshotId-$token"
    // spec column stats key by the FIELD IDS this commit's schema
    // declares — the same assignment the metadata commit below makes
    // (ids ≠ positions once the table has dropped a column)
    val ids = assignFieldIds(prevMeta, df.schema)
    val fids = statsColumns.map(c => ids(df.schema.fieldNames.indexOf(c)))
    val (manifestName, manifestLen) = stageData(spark, table, staged, df,
      partitionField, snapshotId, token, boundsColumn, statsColumns.zip(fids))
    // manifest list = prior manifests (append, BY REFERENCE — including
    // any v2 DELETE manifests, whose content/sequence fields must survive
    // the copy or deletes would silently re-apply as data) + the new one
    // format version is sticky-upward: v1 tables may upgrade to 2 (the
    // spec's upgrade path — older snapshots' v1 manifest lists resolve
    // under the v2 reader via schema defaults), never downgrade
    val formatVersion = math.max(
      prevMeta.map(_.path("format-version").asInt(1)).getOrElse(1),
      if (formatV2) 2 else 1)
    val prior: Seq[MEntry] =
      if (overwrite || prevV == 0) Seq.empty
      else {
        val meta = prevMeta.get
        // a branch commit stacks on the BRANCH head (or cuts the branch
        // from main when it does not exist yet) — main's head is the base
        // for everything else
        val cur = toBranch
          .map(b => meta.path("refs").path(b))
          .filterNot(_.isMissingNode)
          .map(_.get("snapshot-id").asLong())
          .getOrElse(meta.get("current-snapshot-id").asLong())
        val snap = metaJsonSnapshots(meta).find(_._1 == cur).get
        listEntries(fs, new Path(snap._2))
      }
    val listName = s"snap-$snapshotId-$token.avro"
    val defaultSpecId =
      prevMeta.map(_.path("default-spec-id").asInt(0)).getOrElse(0)
    writeManifestList(table, listName,
      prior :+ MEntry(s"$table/metadata/$manifestName", manifestLen,
        snapshotId, content = 0, seq = snapshotId, specId = defaultSpecId),
      v2 = formatVersion >= 2)
    val committed = commitMetadataJson(fs, table, prevV, prevMeta,
      formatVersion, snapshotId, df.schema, partitionField, listName,
      operation.getOrElse(if (overwrite) "overwrite" else "append"),
      summaryProps, toBranch, timestampMs)
    if (!committed) {
      // a lost claim: remove THIS attempt's commit-private artifacts
      // (nothing references them) and let the caller replan
      fs.delete(new Path(table, staged), true)
      fs.delete(new Path(metaDir(table), manifestName), false)
      fs.delete(new Path(metaDir(table), listName), false)
      return None
    }
    Some(snapshotId)
  }

  /** Build the new table-metadata JSON (prior snapshots + this one) and
    * claim the next metadata version by ATOMIC CREATE. Shared by every
    * commit shape — data appends/overwrites ([[writeAt]]) and
    * position-delete commits ([[deleteWhere]]). Returns false when the
    * version was lost to a racing writer (caller cleans up its own
    * commit-private artifacts and replans). */
  private def commitMetadataJson(fs: FileSystem, table: String, prevV: Int,
      prevMeta: Option[com.fasterxml.jackson.databind.JsonNode],
      formatVersion: Int, snapshotId: Long, dfSchema: StructType,
      partitionField: Option[PartField], listName: String,
      operation: String, summaryProps: Map[String, String],
      toBranch: Option[String] = None, timestampMs: Long = 0L): Boolean = {
    // the snapshot this commit planned against — main's head, or the
    // branch head for a branch-targeted commit (spec: parent-snapshot-id;
    // fastForward walks it to prove ancestry before publishing)
    val parentSid: Option[Long] = prevMeta.map { m =>
      toBranch.map(b => m.path("refs").path(b))
        .filterNot(_.isMissingNode)
        .map(_.get("snapshot-id").asLong())
        .getOrElse(m.get("current-snapshot-id").asLong())
    }
    val root = mapper.createObjectNode()
    root.put("format-version", formatVersion)
    if (formatVersion >= 2) root.put("last-sequence-number", snapshotId)
    root.put("table-uuid", prevMeta.map(_.get("table-uuid").asText())
      .getOrElse(java.util.UUID.randomUUID().toString))
    root.put("location", table)
    root.put("last-updated-ms", 0L)
    // schema EVOLUTION: if this commit's schema differs from the current
    // one, it gets a NEW schema-id appended to the schemas list (Iceberg's
    // rule: schemas are immutable and id-addressed; snapshots reference
    // the id they were written under). Field ids resolve by NAME against
    // the current schema — existing fields keep their ids (stable across
    // renames/drops), new fields get monotone fresh ids — so positions
    // and ids may diverge once a DROP COLUMN exists.
    val fieldIds = assignFieldIds(prevMeta, dfSchema)
    root.put("last-column-id", math.max(
      prevMeta.map(_.path("last-column-id").asInt(0)).getOrElse(0),
      (0 +: fieldIds).max))
    def schemaFields(n: com.fasterxml.jackson.databind.node.ObjectNode): Unit = {
      val arr = n.putArray("fields")
      dfSchema.fields.zipWithIndex.foreach { case (f, i) =>
        val fn = arr.addObject()
        fn.put("id", fieldIds(i))
        fn.put("name", f.name)
        fn.put("required", false)
        fn.put("type", icebergType(f.dataType))
      }
    }
    val prevSchemas = prevMeta.map(_.get("schemas"))
    val prevCurrentId = prevMeta.map(_.get("current-schema-id").asInt())
    val candidate = mapper.createObjectNode()
    candidate.put("type", "struct")
    candidate.put("schema-id", 0) // placeholder; compared on fields only
    schemaFields(candidate)
    val matchingId = prevSchemas.flatMap { arr =>
      var found: Option[Int] = None
      arr.forEach { s =>
        if (s.get("fields") == candidate.get("fields"))
          found = Some(s.get("schema-id").asInt())
      }
      found
    }
    val schemaId = matchingId.getOrElse(
      prevCurrentId.map(_ => {
        var mx = -1
        prevSchemas.get.forEach(s => mx = math.max(mx, s.get("schema-id").asInt()))
        mx + 1
      }).getOrElse(0))
    val schemaNode = root.putObject("schema")
    schemaNode.put("type", "struct")
    schemaNode.put("schema-id", schemaId)
    schemaFields(schemaNode)
    val schemasArr = root.putArray("schemas")
    prevSchemas.foreach(_.forEach(s =>
      schemasArr.add(s.deepCopy[com.fasterxml.jackson.databind.JsonNode]())))
    if (matchingId.isEmpty || prevSchemas.isEmpty)
      schemasArr.add(
        schemaNode.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]())
    root.put("current-schema-id", schemaId)
    root.putArray("partition-spec")
    // partition specs are immutable and id-addressed, like schemas: a data
    // commit PRESERVES the prior spec list and default pointer verbatim
    // (the commit already validated it writes under the default spec);
    // evolution happens only through [[evolvePartitionSpec]]'s
    // metadata-only commit. Only a table-creating commit synthesizes
    // spec 0 from its declaration.
    val specs = root.putArray("partition-specs")
    prevMeta match {
      case Some(m) =>
        m.get("partition-specs").forEach(s =>
          specs.add(s.deepCopy[com.fasterxml.jackson.databind.JsonNode]()))
        root.put("default-spec-id", m.get("default-spec-id").asInt())
        root.put("last-partition-id", m.path("last-partition-id").asInt(999))
      case None =>
        val spec0 = specs.addObject()
        spec0.put("spec-id", 0)
        val specFields = spec0.putArray("fields")
        partitionField.foreach { f =>
          val pf = specFields.addObject()
          pf.put("name", f.fieldName)
          pf.put("transform", f.transform)
          pf.put("source-id",
            dfSchema.fieldNames.indexOf(f.source) + 1) // ids are 1-based
          pf.put("field-id", 1000)
        }
        root.put("default-spec-id", 0)
        root.put("last-partition-id",
          if (partitionField.isDefined) 1000 else 999)
    }
    // sort orders are immutable and id-addressed like schemas/specs:
    // preserved verbatim on every data commit; [[setSortOrder]]'s
    // metadata-only commit is the only writer of new entries
    prevMeta.filter(_.has("sort-orders")).foreach { m =>
      root.set[com.fasterxml.jackson.databind.node.ObjectNode]("sort-orders",
        m.get("sort-orders").deepCopy[com.fasterxml.jackson.databind.JsonNode]())
      root.put("default-sort-order-id", m.path("default-sort-order-id").asInt(0))
    }
    // statistics files (spec §Table Statistics / Puffin) are snapshot-
    // addressed and survive every commit verbatim — a reader decides
    // staleness by comparing the entry's snapshot-id to the snapshot it
    // plans; [[writeStatistics]]'s metadata-only commit is the only
    // writer of new entries
    prevMeta.filter(_.has("statistics")).foreach { m =>
      root.set[com.fasterxml.jackson.databind.node.ObjectNode]("statistics",
        m.get("statistics").deepCopy[com.fasterxml.jackson.databind.JsonNode]())
    }
    // table properties survive every commit (the exactly-once high-water
    // mark expireSnapshots folds in must outlive later writes)
    val props = root.putObject("properties")
    prevMeta.foreach(_.path("properties").fields().forEachRemaining(e =>
      props.set[com.fasterxml.jackson.databind.node.ObjectNode](
        e.getKey, e.getValue.deepCopy[com.fasterxml.jackson.databind.JsonNode]())))
    // a BRANCH-targeted commit (write-audit-publish staging) leaves main
    // and the readable head untouched: the snapshot enters the snapshot
    // list, only the branch ref advances
    require(toBranch.isEmpty || prevMeta.isDefined,
      "cannot stage a branch commit on a table with no committed metadata")
    root.put("current-snapshot-id",
      if (toBranch.isEmpty) snapshotId
      else prevMeta.get.get("current-snapshot-id").asLong())
    val snaps = root.putArray("snapshots")
    prevMeta.foreach(m => m.get("snapshots").forEach(s =>
      snaps.add(s.deepCopy[com.fasterxml.jackson.databind.JsonNode]())))
    val sn = snaps.addObject()
    sn.put("snapshot-id", snapshotId)
    parentSid.foreach(p => sn.put("parent-snapshot-id", p))
    if (formatVersion >= 2) sn.put("sequence-number", snapshotId)
    // the snapshot's time axis (spec: timestamp-ms). 0 by default — the
    // differential gate needs byte-deterministic metadata — and a real
    // stamp when the WRITER declares one (the Delta in-commit-timestamp
    // stance: the time axis must live IN the commit, injectable for
    // deterministic tests); TIMESTAMP AS OF resolves through it.
    sn.put("timestamp-ms", timestampMs)
    val summary = sn.putObject("summary")
    summary.put("operation", operation)
    summaryProps.foreach { case (k, v2) => summary.put(k, v2) }
    sn.put("manifest-list", s"$table/metadata/$listName")
    sn.put("schema-id", schemaId)
    // refs (spec §Refs): named branch/tag pointers survive every commit;
    // the `main` branch tracks the current snapshot except under a
    // branch-targeted commit, where only that branch advances
    val refs = root.putObject("refs")
    prevMeta.foreach(_.path("refs").fields().forEachRemaining(e =>
      refs.set[com.fasterxml.jackson.databind.node.ObjectNode](
        e.getKey, e.getValue.deepCopy[com.fasterxml.jackson.databind.JsonNode]())))
    toBranch match {
      case Some(b) =>
        require(b != "main", "commit to main directly, not via toBranch")
        val br = refs.putObject(b)
        br.put("snapshot-id", snapshotId)
        br.put("type", "branch")
      case None =>
        val main = refs.putObject("main")
        main.put("snapshot-id", snapshotId)
        main.put("type", "branch")
    }
    root.putArray("snapshot-log")
    root.putArray("metadata-log")
    claimMetadata(fs, table, prevV, root)
  }

  /** Claim metadata version `prevV + 1` with `meta` by atomic create — the
    * one writer of `v<N>.metadata.json`, always inside an [[Occ.commit]]
    * attempt — and on a won claim point `version-hint.text` at it
    * (advisory, per the spec). False when a racing writer took the
    * version: the attempt cleans up what it staged and answers None. */
  private def claimMetadata(fs: FileSystem, table: String, prevV: Int,
      meta: com.fasterxml.jackson.databind.JsonNode): Boolean = {
    val won = AtomicCreate.create(fs, metaFile(table, prevV + 1),
      mapper.writerWithDefaultPrettyPrinter()
        .writeValueAsString(meta).getBytes(StandardCharsets.UTF_8))
    if (won) {
      val hint = fs.create(new Path(metaDir(table), "version-hint.text"), true)
      try hint.write(s"${prevV + 1}".getBytes(StandardCharsets.UTF_8))
      finally hint.close()
    }
    won
  }

  /** A METADATA-ONLY commit (refs, schema, spec, sort order, format
    * version): each [[Occ.commit]] attempt hands `edit` a private copy of
    * the pinned head's metadata; `edit` checks against it, edits it in
    * place and answers whether anything changed (false: the head stands
    * and its version is returned). Returns the resulting metadata
    * version. */
  private def commitMetadataEdit(spark: SparkSession, table: String,
      op: String)(
      edit: com.fasterxml.jackson.databind.node.ObjectNode => Boolean): Int = {
    val fs = hadoopFs(spark, table)
    Occ.commit(op, table)(latestMetadataVersion(spark, table)) { v =>
      require(v > 0, s"$table has no Iceberg metadata")
      val meta = readMetadata(fs, table, v)
        .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      if (!edit(meta)) Some(v)
      else Option.when(claimMetadata(fs, table, v, meta))(v + 1)
    }
  }

  /** The ledger name for batch-side [[commitIdempotent]] sinks and the
    * back-compat default of [[commitStreamFiles]]: snapshots with no
    * `graft-query-id` summary key belong here. Query-scoped streaming
    * writers pass their OWN query id instead, so concurrent queries on
    * one table never share a high-water mark. */
  private[graft] val DefaultLedger = "graft-stream"

  /** Per-ledger high-water-mark property name ([[expireSnapshots]] folds
    * dropped markers here): the default ledger keeps the historical
    * un-suffixed key so existing tables read on. */
  private def hwmKey(appId: String): String =
    if (appId == DefaultLedger) "graft-max-batch-id"
    else s"graft-max-batch-id.$appId"

  /** Exactly-once micro-batch commit — the Delta txnAppId/txnVersion
    * contract in Iceberg terms: the streaming `batchId` travels as a
    * snapshot-summary property, so the snapshot list IS the dedup ledger.
    * A redelivered batch finds its marker among the committed snapshots
    * and returns the original snapshot id without writing. */
  def commitIdempotent(spark: SparkSession, df: DataFrame, table: String,
      batchId: Long,
      partitionField: Option[PartField] = None,
      toBranch: Option[String] = None): Long = {
    val fs = hadoopFs(spark, table)
    val v = latestMetadataVersion(spark, table)
    if (v > 0) {
      val meta = readMetadata(fs, table, v)
      // ledger half 1: the high-water mark [[expireSnapshots]] folds into
      // table properties when it drops marker-carrying snapshots (the r09
      // advisor finding) — batch ids are monotone (the Structured
      // Streaming contract), so <= means already applied
      val hwm = meta.path("properties").path("graft-max-batch-id").asLong(-1L)
      if (batchId <= hwm) return meta.get("current-snapshot-id").asLong()
      // ledger half 2: the retained snapshots' own summary markers —
      // only THIS ledger's markers (snapshots committed by a query-scoped
      // writeStream.toTable carry graft-query-id and live in their own
      // ledger; matching them here would falsely dedup a foreachBatch
      // batch that happens to share the epoch number)
      var found = -1L
      meta.get("snapshots").forEach { s =>
        val sameLedger =
          s.get("summary").path("graft-query-id").asText(DefaultLedger) ==
            DefaultLedger
        if (sameLedger &&
            s.get("summary").path("graft-batch-id").asText("") ==
              batchId.toString)
          found = s.get("snapshot-id").asLong()
      }
      if (found >= 0) return found
    }
    write(spark, df, table, partitionField = partitionField,
      summaryProps = Map("graft-batch-id" -> batchId.toString),
      toBranch = toBranch)
  }

  /** Create or move a named REF (spec §Refs) — `tag` pins an immutable
    * release pointer, `branch` a movable head — as a METADATA-ONLY
    * commit. Ref-pointed snapshots are RETAINED by [[expireSnapshots]]
    * regardless of keepLast: the tag is what makes "the audited March
    * snapshot" survive routine retention. */
  def setRef(spark: SparkSession, table: String, name: String,
      snapshotId: Long, refType: String = "tag"): Int = {
    require(refType == "tag" || refType == "branch",
      s"ref type must be tag|branch, got $refType")
    require(name != "main", "main is maintained by commits; pick another name")
    commitMetadataEdit(spark, table, "setRef") { meta =>
      require(metaJsonSnapshots(meta).exists(_._1 == snapshotId),
        s"snapshot $snapshotId not in $table metadata — cannot ref it")
      val r = meta.`with`("refs").putObject(name)
      r.put("snapshot-id", snapshotId)
      r.put("type", refType)
      true
    }
  }

  /** ROLLBACK to a retained snapshot (Iceberg's `rollback_to_snapshot`
    * procedure): a METADATA-ONLY commit pointing `current-snapshot-id`
    * (and the `main` ref) back at `snapshotId`. Nothing rewinds —
    * history is PRESERVED: later snapshots stay in the list (still
    * time-travelable, and expirable like any other unreferenced
    * snapshot), their data files untouched; the next data commit
    * branches from the restored head (its parent-snapshot-id records
    * the divergence). At 100 TB this is THE bad-ingest remedy: undoing
    * a terabyte-scale mistake costs one small JSON commit, zero data
    * I/O. Rolling back to the current snapshot is a no-op (returns the
    * current metadata version); an unknown or expired snapshot
    * refuses. */
  def rollbackTo(spark: SparkSession, table: String,
      snapshotId: Long): Int =
    commitMetadataEdit(spark, table, "rollbackTo") { meta =>
      require(metaJsonSnapshots(meta).exists(_._1 == snapshotId),
        s"snapshot $snapshotId not in $table metadata (expired or never " +
          "committed) — cannot roll back to it")
      meta.get("current-snapshot-id").asLong() != snapshotId && {
        meta.put("current-snapshot-id", snapshotId)
        val main = meta.`with`("refs").putObject("main")
        main.put("snapshot-id", snapshotId)
        main.put("type", "branch")
        true
      }
    }

  /** Delete a named ref (metadata-only); its snapshot becomes an ordinary
    * expiration candidate again. */
  def dropRef(spark: SparkSession, table: String, name: String): Int = {
    require(name != "main", "cannot drop main")
    commitMetadataEdit(spark, table, "dropRef") { meta =>
      require(meta.path("refs").has(name), s"no ref $name on $table")
      meta.`with`("refs").remove(name)
      true
    }
  }

  /** METADATA-ONLY schema evolution — SQL `ALTER TABLE ADD COLUMNS`'s
    * landing (X287; spec §Schema Evolution, AddColumn): the widened
    * schema appends to the immutable id-addressed schemas list and
    * `current-schema-id` flips — NO new snapshot, NO byte rewritten;
    * head reads scan under the current schema so pre-evolution files
    * surface the column as NULL, while time travel below the evolution
    * keeps each snapshot's own schema. The column lands at the END, so
    * this writer's positional field ids stay stable for every existing
    * column (the id-stability rule all stats/bounds resolution depends
    * on). */
  def addColumn(spark: SparkSession, table: String, name: String,
      dataType: org.apache.spark.sql.types.DataType): Int =
    evolveSchema(spark, table, "addColumn") { fields =>
      require(!fields.exists(_._2 == name),
        s"column $name already exists in $table")
      (fields, Some((name, dataType)))
    }

  /** METADATA-ONLY column rename (spec §Schema Evolution, RenameColumn):
    * a new schema-id re-declares the field under its new name with the
    * SAME field id — no snapshot, no byte moved. Head reads resolve old
    * files by id ([[readLive]]'s write-schema grouping), stats written
    * under the old name keep pruning (manifest stats key by id), and
    * time travel below the rename answers under the original name.
    * Refuses while live EQUALITY-delete files exist: their key columns
    * are implied by the delete file's own parquet NAMES, which a rename
    * would orphan (remedy: rewriteDataFiles first). */
  def renameColumn(spark: SparkSession, table: String, oldName: String,
      newName: String): Int =
    evolveSchema(spark, table, "renameColumn") { fields =>
      require(fields.exists(_._2 == oldName),
        s"column $oldName not in $table schema")
      require(!fields.exists(_._2 == newName),
        s"column $newName already exists in $table")
      require(snapshotDeleteEntries(spark, table, -1L)
          .forall(_.kind != 2),
        s"$table carries live equality-delete files, whose key columns " +
          "are bound by parquet NAME — IcebergLite.rewriteDataFiles " +
          "first, then rename")
      (fields.map(f => if (f._2 == oldName) (f._1, newName, f._3) else f),
        None)
    }

  /** METADATA-ONLY column drop (spec §Schema Evolution, DeleteColumn):
    * a new schema-id omits the field — no snapshot, no byte moved; the
    * field's id is NEVER reused (`last-column-id` is monotone), so a
    * later re-add of the same name is a NEW field and pre-drop files
    * surface it as NULL instead of resurrecting dropped values. The
    * partition/sort source column refuses (live specs must resolve). */
  def dropColumn(spark: SparkSession, table: String, name: String): Int =
    evolveSchema(spark, table, "dropColumn") { fields =>
      require(fields.exists(_._2 == name), s"column $name not in $table")
      require(fields.size > 1, s"cannot drop the only column of $table")
      (fields.filterNot(_._2 == name), None)
    }

  /** Shared METADATA-ONLY schema-evolution commit: `f` maps the current
    * (id, name, type) field list to its evolved form (plus an optional
    * appended column, which gets a fresh monotone id). Appends a new
    * schema node, flips `current-schema-id`, keeps `last-column-id`
    * monotone — NO new snapshot. */
  private def evolveSchema(spark: SparkSession, table: String, op: String)(
      f: Seq[(Int, String, org.apache.spark.sql.types.DataType)] =>
        (Seq[(Int, String, org.apache.spark.sql.types.DataType)],
         Option[(String, org.apache.spark.sql.types.DataType)])): Int =
    commitMetadataEdit(spark, table, op) { meta =>
      val cur = schemaFieldsById(meta, meta.get("current-schema-id").asInt())
      val (kept, appended) = f(cur)
      val lastCol = math.max(meta.path("last-column-id").asInt(0),
        cur.map(_._1).max)
      val evolved = kept ++ appended.map { case (n, t) => (lastCol + 1, n, t) }
      // the partition/sort source columns must keep resolving by id
      meta.get("partition-specs").forEach(s => s.get("fields").forEach { pf =>
        val sid = pf.get("source-id").asInt()
        require(evolved.exists(_._1 == sid),
          s"$op on $table would orphan partition source-id $sid — " +
            "evolve the partition spec first")
      })
      var maxSid = 0
      meta.get("schemas").forEach(s =>
        maxSid = math.max(maxSid, s.get("schema-id").asInt()))
      val sid = maxSid + 1
      val sn = meta.withArray("schemas").addObject()
      sn.put("type", "struct")
      sn.put("schema-id", sid)
      val arr = sn.putArray("fields")
      evolved.foreach { case (id, n, t) =>
        val fn = arr.addObject()
        fn.put("id", id)
        fn.put("name", n)
        fn.put("required", false)
        fn.put("type", icebergType(t))
      }
      meta.put("current-schema-id", sid)
      meta.put("last-column-id", math.max(lastCol, evolved.map(_._1).max))
      true
    }

  /** PARTITION SPEC EVOLUTION (spec §Partition Evolution) — the hidden-
    * partitioning payoff: change how FUTURE data is laid out without
    * rewriting a byte of the past. A METADATA-ONLY commit appends the new
    * spec to the immutable id-addressed `partition-specs` list and flips
    * `default-spec-id`; existing manifests keep the spec id they were
    * written under (field 502 in the manifest list), and
    * [[planPartitioned]] evaluates every manifest against its OWN spec —
    * old files keep pruning under the old transform, new files under the
    * new. `None` evolves to unpartitioned. Re-declaring the current
    * default is a no-op (returns the current metadata version). */
  def evolvePartitionSpec(spark: SparkSession, table: String,
      newSpec: Option[PartField]): Int =
    commitMetadataEdit(spark, table, "evolvePartitionSpec") { meta =>
      partitionSpec(meta) != newSpec && {
        val schema =
          schemaForSnapshot(meta, meta.get("current-snapshot-id").asLong())
        newSpec.foreach { f =>
          require(schema.fieldNames.contains(f.source),
            s"partition source column ${f.source} not in $table schema")
        }
        var maxId = -1
        meta.get("partition-specs").forEach(s =>
          maxId = math.max(maxId, s.get("spec-id").asInt()))
        val newId = maxId + 1
        val spec = meta.withArray("partition-specs").addObject()
        spec.put("spec-id", newId)
        val fields = spec.putArray("fields")
        newSpec.foreach { f =>
          val pf = fields.addObject()
          pf.put("name", f.fieldName)
          pf.put("transform", f.transform)
          pf.put("source-id", fieldIdOf(meta, f.source))
          // spec rule: partition field ids are unique ACROSS specs
          pf.put("field-id", meta.path("last-partition-id").asInt(999) + 1)
        }
        meta.put("default-spec-id", newId)
        if (newSpec.isDefined)
          meta.put("last-partition-id",
            meta.path("last-partition-id").asInt(999) + 1)
        true
      }
    }

  /** Declare the table's SORT ORDER (spec §Sort Orders): a METADATA-ONLY
    * commit appending an identity-transform ascending order on `column`
    * to the immutable id-addressed `sort-orders` list and flipping
    * `default-sort-order-id`. The declaration is INTENT, exactly as in
    * Iceberg: writers are not forced to sort (appends stay cheap), and
    * [[rewriteDataFiles]] honors it — a compaction on a sort-ordered
    * table range-clusters by the column and records per-file bounds, so
    * [[planBounds]] pruning turns from no-op (hash layout: every file
    * spans the full range) to surgical. */
  def setSortOrder(spark: SparkSession, table: String,
      column: String): Int =
    commitMetadataEdit(spark, table, "setSortOrder") { meta =>
      val schema =
        schemaForSnapshot(meta, meta.get("current-snapshot-id").asLong())
      require(schema.fieldNames.contains(column),
        s"sort column $column not in $table schema")
      var maxId = 0
      if (meta.has("sort-orders"))
        meta.get("sort-orders").forEach(o =>
          maxId = math.max(maxId, o.get("order-id").asInt()))
      else {
        // spec: order-id 0 is reserved for "unsorted"
        val unsorted = meta.putArray("sort-orders").addObject()
        unsorted.put("order-id", 0)
        unsorted.putArray("fields")
      }
      val newId = maxId + 1
      val order = meta.withArray("sort-orders").addObject()
      order.put("order-id", newId)
      val f = order.putArray("fields").addObject()
      f.put("transform", "identity")
      f.put("source-id", fieldIdOf(meta, column))
      f.put("direction", "asc")
      f.put("null-order", "nulls-first")
      meta.put("default-sort-order-id", newId)
      true
    }

  /** TABLE STATISTICS in a PUFFIN file (spec §Table Statistics +
    * puffin-spec): distinct-count sketches for `columns`, computed at
    * the CURRENT snapshot, serialized as `apache-datasketches-theta-v1`
    * blobs (a compact Theta sketch per column — the blob type the spec
    * names, producible here because Spark bundles datasketches-java for
    * its own approx functions), and registered in table metadata's
    * snapshot-addressed `statistics` list by a METADATA-ONLY commit.
    * Why this exists at 100 TB: NDV drives join-side and
    * broadcast decisions, and recomputing it means a full scan —
    * the Puffin blob is a few KB read at plan time instead. The
    * compute is one distributed pass: each partition folds its rows
    * into per-column Theta sketches and emits only the compact bytes
    * (KB), the driver unions them — order- and partitioning-
    * insensitive by the sketch's set semantics, never a row collect.
    * Blob metadata (field ids, snapshot, sequence, `ndv` property) is
    * duplicated in the file footer AND the table metadata, as the spec
    * requires, so a planner chooses blobs without opening the file.
    * Re-running at the same snapshot REPLACES that snapshot's entry.
    * Returns the new metadata version. */
  def writeStatistics(spark: SparkSession, table: String,
      columns: Seq[String]): Int = {
    require(columns.nonEmpty, "need at least one column to sketch")
    val fs = hadoopFs(spark, table)
    Occ.commit("writeStatistics", table)(latestMetadataVersion(spark, table)) {
        v =>
      require(v > 0, s"$table has no Iceberg metadata")
      val meta = readMetadata(fs, table, v)
      val sid = meta.get("current-snapshot-id").asLong()
      val seqNum = meta.path("last-sequence-number").asLong(sid)
      val schema = schemaForSnapshot(meta, sid)
      columns.foreach(c => require(schema.fieldNames.contains(c),
        s"statistics column $c not in $table schema"))
      val df = read(spark, table)
        .select(columns.map(org.apache.spark.sql.functions.col): _*)
      val n = columns.length
      val partSketches = df.rdd.mapPartitions { it =>
        val sks = Array.fill(n)(
          org.apache.datasketches.theta.UpdateSketch.builder().build())
        it.foreach { row =>
          var i = 0
          while (i < n) {
            if (!row.isNullAt(i)) row.get(i) match {
              case s: String => sks(i).update(s)
              case l: Long => sks(i).update(l)
              case d: Double => sks(i).update(d)
              case other => sks(i).update(other.toString)
            }
            i += 1
          }
        }
        Iterator.single(sks.map(_.compact(true, null).toByteArray))
      }.collect()
      val merged = (0 until n).map { i =>
        val u = org.apache.datasketches.theta.SetOperation.builder().buildUnion()
        partSketches.foreach(p => u.union(
          org.apache.datasketches.theta.CompactSketch.heapify(
            org.apache.datasketches.memory.Memory.wrap(p(i)))))
        u.getResult(true, null)
      }
      val blobs = columns.zip(merged).map { case (c, sk) =>
        ("apache-datasketches-theta-v1",
          Seq(fieldIdOf(meta, c)), sid, seqNum,
          Map("ndv" -> Math.round(sk.getEstimate).toString), sk.toByteArray)
      }
      val written = Puffin.write(blobs,
        Map("created-by" -> "graft IcebergLite"))
      val statsPath = new Path(metaDir(table),
        s"$sid-${java.util.UUID.randomUUID()}.stats.puffin")
      val out = fs.create(statsPath, false)
      try out.write(written.bytes) finally out.close()
      val copy = meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      val stats = mapper.createArrayNode()
      if (copy.has("statistics")) copy.get("statistics").forEach(s =>
        if (s.get("snapshot-id").asLong() != sid)
          stats.add(s.deepCopy[com.fasterxml.jackson.databind.JsonNode]()))
      val e = stats.addObject()
      e.put("snapshot-id", sid)
      e.put("statistics-path", statsPath.toString)
      e.put("file-size-in-bytes", written.bytes.length.toLong)
      e.put("file-footer-size-in-bytes", written.footerSize)
      val bmArr = e.putArray("blob-metadata")
      written.blobs.foreach { m =>
        val b = bmArr.addObject()
        b.put("type", m.blobType)
        b.put("snapshot-id", m.snapshotId)
        b.put("sequence-number", m.sequenceNumber)
        val f = b.putArray("fields")
        m.fields.foreach(f.add)
        if (m.properties.nonEmpty) {
          val p = b.putObject("properties")
          m.properties.toSeq.sortBy(_._1).foreach { case (k, pv) => p.put(k, pv) }
        }
      }
      copy.set[com.fasterxml.jackson.databind.node.ObjectNode]("statistics", stats)
      if (claimMetadata(fs, table, v, copy)) Some(v + 1)
      else { fs.delete(statsPath, false); None }
    }
  }

  /** Re-anchor the table's statistics at the CURRENT snapshot (X303):
    * re-sketch the columns the existing blobs cover and commit a fresh
    * `statistics` entry. This is the missing half of the Puffin
    * lifecycle — [[writeStatistics]] is a point-in-time write, every
    * later commit marks it stale, and a stale blob licenses nothing
    * ([[graft.plans.PuffinPlanner]] ignores it) — so compaction and the
    * `write_statistics` procedure call this to keep the plan-steering
    * numbers live. Columns that no longer exist in the current schema
    * are dropped from the refresh (a field-id bound to a dropped column
    * must not resurrect under a new name). None when the table carries
    * no statistics — nothing to refresh is not an error. */
  def refreshStatistics(spark: SparkSession, table: String): Option[Int] = {
    val fs = hadoopFs(spark, table)
    val v = latestMetadataVersion(spark, table)
    require(v > 0, s"$table has no Iceberg metadata")
    val meta = readMetadata(fs, table, v)
    if (!meta.has("statistics") || meta.get("statistics").size() == 0)
      return None
    val cur = meta.get("current-snapshot-id").asLong()
    val curSchema = schemaForSnapshot(meta, cur)
    val columns = scala.collection.mutable.LinkedHashSet.empty[String]
    meta.get("statistics").forEach { entry =>
      val blobFields = schemaFieldsById(meta, schemaIdForSnapshot(meta,
        entry.get("snapshot-id").asLong()))
      entry.get("blob-metadata").forEach { b =>
        // blob fields are FIELD IDS — resolve to the blob-era name by
        // id, then carry forward only if the CURRENT schema still has
        // that id (renamed columns refresh under their new name)
        val fid = b.get("fields").get(0).asInt()
        blobFields.find(_._1 == fid).map(_._2).foreach { name =>
          val curName = schemaFieldsById(meta,
            meta.get("current-schema-id").asInt())
            .find(_._1 == fid).map(_._2)
          curName.foreach(columns += _)
          if (curName.isEmpty && curSchema.fieldNames.contains(name))
            columns += name
        }
      }
    }
    if (columns.isEmpty) None
    else Some(writeStatistics(spark, table, columns.toSeq))
  }

  /** Read back the table's statistics: for each blob registered against
    * `snapshotId` (default: current), deserialize the Theta sketch and
    * surface (column, sketch estimate, declared `ndv` property, stale?).
    * The sketch is re-estimated FROM THE FILE — a copy of the numbers in
    * the metadata would hide a corrupt or swapped Puffin file; instead
    * the footer's blob list must agree with the metadata's copy
    * (offset/type/fields), and all three magics must verify
    * ([[Puffin.read]] refuses otherwise). `stale` flags statistics
    * whose snapshot is no longer the table's current one — the reader
    * decides whether approximations from an older snapshot still
    * serve. */
  def readStatistics(spark: SparkSession, table: String)
      : Seq[(String, Long, Long, Boolean)] = {
    val fs = hadoopFs(spark, table)
    val v = latestMetadataVersion(spark, table)
    require(v > 0, s"$table has no Iceberg metadata")
    val meta = readMetadata(fs, table, v)
    require(meta.has("statistics") && meta.get("statistics").size() > 0,
      s"$table has no statistics files — run writeStatistics first")
    val cur = meta.get("current-snapshot-id").asLong()
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Boolean)]
    meta.get("statistics").forEach { entry =>
      // field ids resolve through the schema AS OF THE BLOB'S SNAPSHOT —
      // a stale entry read under the current schema would silently
      // relabel blobs after a reorder/drop evolution
      val blobFields = schemaFieldsById(meta, schemaIdForSnapshot(meta,
        entry.get("snapshot-id").asLong()))
      val p = new Path(entry.get("statistics-path").asText())
      val in = fs.open(p)
      val bytes = try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
        buf.toByteArray
      } finally in.close()
      require(bytes.length == entry.get("file-size-in-bytes").asLong(),
        s"statistics file $p size ${bytes.length} != metadata's " +
          s"${entry.get("file-size-in-bytes").asLong()} — refusing")
      val (metas, payloads, _) = Puffin.read(bytes)
      val stale = entry.get("snapshot-id").asLong() != cur
      metas.zip(payloads).foreach { case (m, payload) =>
        require(m.blobType == "apache-datasketches-theta-v1",
          s"unknown statistics blob type ${m.blobType} — refusing")
        val sk = org.apache.datasketches.theta.CompactSketch.heapify(
          org.apache.datasketches.memory.Memory.wrap(payload))
        val colName = blobFields.find(_._1 == m.fields.head).map(_._2)
          .getOrElse(throw new IllegalArgumentException(
            s"statistics blob field id ${m.fields.head} not in its " +
              "snapshot's schema"))
        out += ((colName, Math.round(sk.getEstimate),
          m.properties("ndv").toLong, stale))
      }
    }
    out.toSeq
  }

  /** The default sort order's column, None when unsorted (order 0 or no
    * declaration) — resolved through the current schema's field order
    * (source-id is 1-based). */
  private def sortOrderColumn(
      meta: com.fasterxml.jackson.databind.JsonNode): Option[String] = {
    if (!meta.has("sort-orders")) return None
    val wanted = meta.path("default-sort-order-id").asInt(0)
    if (wanted == 0) return None
    var found: Option[Int] = None
    meta.get("sort-orders").forEach { o =>
      if (o.get("order-id").asInt() == wanted)
        o.get("fields").forEach(f => found = Some(f.get("source-id").asInt()))
    }
    found.map { sid =>
      schemaFieldsById(meta, meta.get("current-schema-id").asInt())
        .find(_._1 == sid).map(_._2)
        .getOrElse(throw new IllegalArgumentException(
          s"sort-order source-id $sid not in the current schema"))
    }
  }

  /** PUBLISH a staged branch — the fast-forward half of WRITE-AUDIT-
    * PUBLISH (Iceberg's WAP workflow: stage ingest on a branch with
    * [[write]]`(toBranch=...)`, audit it via [[readRef]] while `main` —
    * and every reader — is untouched, then publish by fast-forwarding
    * main to the branch head). Ancestry is PROVEN before publishing: the
    * branch head's parent-snapshot-id chain must reach main's current
    * head, else the branch has diverged (main advanced since the cut)
    * and a fast-forward would silently drop main's newer commits —
    * refused. Metadata-only commit; the branch ref survives (drop it
    * separately to release the snapshots to expiration). Returns the new
    * metadata version. */
  def fastForward(spark: SparkSession, table: String,
      branch: String): Int =
    commitMetadataEdit(spark, table, "fastForward") { meta =>
      val br = meta.path("refs").path(branch)
      require(!br.isMissingNode, s"no ref $branch on $table")
      require(br.get("type").asText() == "branch",
        s"$branch is a tag — only branches fast-forward")
      val head = br.get("snapshot-id").asLong()
      val mainHead = meta.get("current-snapshot-id").asLong()
      head != mainHead && { // equal: nothing to publish
        // ancestry proof: walk parent-snapshot-id from the branch head; it
        // must pass through main's head. The walk can terminate three ways
        // and only one is divergence — distinguish them, because the other
        // two (a link pointing at an EXPIRED snapshot, or a snapshot
        // committed before parent pointers existed) are unprovable-not-
        // diverged: still refused (fail-safe — snapshot-log is written empty
        // so there is no secondary lineage to fall back on), but with an
        // error naming the actual obstacle so the operator knows re-cutting
        // the branch (not merging) is the remedy.
        val parents = mutable.Map.empty[Long, Long]
        val known = mutable.Set.empty[Long]
        meta.get("snapshots").forEach { s =>
          known += s.get("snapshot-id").asLong()
          if (s.has("parent-snapshot-id"))
            parents(s.get("snapshot-id").asLong()) =
              s.get("parent-snapshot-id").asLong()
        }
        var cursor = head
        var reaches = false
        while (!reaches && parents.contains(cursor)) {
          cursor = parents(cursor)
          if (cursor == mainHead) reaches = true
        }
        if (!reaches && !known.contains(cursor))
          throw new IllegalArgumentException(
            s"cannot prove branch $branch (head $head) descends from main " +
              s"(head $mainHead): ancestry chain breaks at expired snapshot " +
              s"$cursor — fast-forward needs unexpired history from the " +
              "branch head back to main; re-cut the branch from current main")
        require(reaches, s"branch $branch (head $head) did not reach main " +
          s"(head $mainHead) walking parent pointers (stopped at $cursor, " +
          "which has none — main's fork point, the table's first snapshot, " +
          "or a commit predating parent tracking): diverged or unprovable, " +
          "cannot fast-forward; re-cut the branch from current main")
        meta.put("current-snapshot-id", head)
        val mainRef = meta.`with`("refs").putObject("main")
        mainRef.put("snapshot-id", head)
        mainRef.put("type", "branch")
        true
      }
    }

  /** Resolve a named ref (branch or tag) to its snapshot id — the SQL
    * `VERSION AS OF '<ref>'` coordinate (X302). Ref-pointed snapshots
    * survive [[expireSnapshots]] (spec §Refs retention), so a tag read
    * keeps serving after routine expiration. */
  def refSnapshotId(spark: SparkSession, table: String,
      name: String): Long = {
    val fs = hadoopFs(spark, table)
    val meta = readMetadata(fs, table, latestMetadataVersion(spark, table))
    val r = meta.path("refs").path(name)
    require(!r.isMissingNode, s"no ref $name on $table")
    r.get("snapshot-id").asLong()
  }

  /** Read the table at a named ref ([[read]] at the ref's snapshot). */
  def readRef(spark: SparkSession, table: String, name: String): DataFrame =
    read(spark, table, refSnapshotId(spark, table, name))

  /** A ref's (snapshot-id, type) — the type gates writability: branches
    * take commits, tags are immutable. */
  private[graft] def refInfo(spark: SparkSession, table: String,
      name: String): (Long, String) = {
    val fs = hadoopFs(spark, table)
    val meta = readMetadata(fs, table, latestMetadataVersion(spark, table))
    val r = meta.path("refs").path(name)
    require(!r.isMissingNode, s"no ref $name on $table")
    (r.get("snapshot-id").asLong(), r.get("type").asText())
  }

  /** Snapshot expiration — Iceberg's retention op (`expireSnapshots`):
    * drop all but the newest `keepLast` snapshots from the metadata (a
    * NEW metadata version, committed by the same atomic-create arbiter),
    * then delete every manifest list, manifest, and data file no retained
    * snapshot references. Time travel to an expired snapshot then refuses
    * by its own absence from the snapshot list — never a wrong answer.
    * `graceMs` spares unreferenced files younger than the window (plus
    * any directory mid-write) so a concurrent writer's staged-but-not-
    * yet-committed files survive the sweep; 0 is the single-writer fast
    * path. Returns (snapshots expired, data files deleted). */
  def expireSnapshots(spark: SparkSession, table: String,
      keepLast: Int, graceMs: Long = 0L): (Long, Long) = {
    val fs = hadoopFs(spark, table)
    val (expired, retained) = Occ.commit("expireSnapshots", table)(
        latestMetadataVersion(spark, table)) { v =>
      require(v > 0, s"$table has no Iceberg metadata")
      val meta = readMetadata(fs, table, v)
        .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      val snaps = mutable.ArrayBuffer.empty[com.fasterxml.jackson.databind.JsonNode]
      meta.get("snapshots").forEach(s => snaps += s)
      // ref-pointed snapshots are retained REGARDLESS of keepLast (spec
      // §Refs retention): a tag exists precisely to outlive routine
      // expiration; drop the ref to release the snapshot
      val reffed = mutable.Set.empty[Long]
      meta.path("refs").fields().forEachRemaining(e =>
        reffed += e.getValue.get("snapshot-id").asLong())
      val byAge = snaps.sortBy(_.get("snapshot-id").asLong())
      val retained = (byAge.takeRight(keepLast) ++
        byAge.filter(s => reffed.contains(s.get("snapshot-id").asLong())))
        .distinctBy(_.get("snapshot-id").asLong())
        .sortBy(_.get("snapshot-id").asLong())
      val expired = snaps.size - retained.size
      if (expired == 0) Some((0, retained))
      else {
        // exactly-once ledger preservation (r09 advisor finding): dropping a
        // snapshot whose summary carries a `graft-batch-id` marker would let a
        // redelivered batch re-commit. Fold the expired markers' high-water
        // mark into table properties, where [[commitIdempotent]] consults it —
        // batch ids are monotone, so the max subsumes every dropped marker.
        val retainedIds = retained.map(_.get("snapshot-id").asLong()).toSet
        val dropped = byAge.filterNot(s =>
          retainedIds.contains(s.get("snapshot-id").asLong()))
        // fold PER LEDGER: markers are query-scoped (graft-query-id; absent =
        // the default foreachBatch ledger), so each query's dropped markers
        // fold into that query's own high-water property — folding them all
        // into one key would cross-contaminate concurrent queries' dedup
        dropped.groupBy(_.get("summary").path("graft-query-id")
            .asText("graft-stream"))
          .foreach { case (appId, snapsOfLedger) =>
            val key = if (appId == "graft-stream") "graft-max-batch-id"
              else s"graft-max-batch-id.$appId"
            val expiredHwm = snapsOfLedger
              .map(_.get("summary").path("graft-batch-id").asLong(-1L))
              .foldLeft(meta.path("properties").path(key).asLong(-1L))(math.max)
            if (expiredHwm >= 0)
              meta.`with`("properties").put(key, expiredHwm)
          }
        val newSnaps = meta.putArray("snapshots")
        retained.foreach(newSnaps.add)
        Option.when(claimMetadata(fs, table, v, meta))((expired, retained))
      }
    }
    if (expired == 0) return (0L, 0L)
    // referenced closure of the retained snapshots: lists → manifests → files
    val refLists = retained.map(s =>
      new Path(s.get("manifest-list").asText()).getName).toSet
    val refManifests = retained.flatMap(s =>
      readAvroFile(fs, new Path(s.get("manifest-list").asText()))
        .map(r => new Path(r.get("manifest_path").toString).getName)).toSet
    val refFiles = retained.flatMap(s =>
      readAvroFile(fs, new Path(s.get("manifest-list").asText()))
        .flatMap(m => readAvroFile(fs, new Path(m.get("manifest_path").toString))
          .map(_.get("data_file").asInstanceOf[GenericRecord]
            .get("file_path").toString))).toSet
    // sweep unreferenced metadata avro files
    fs.listStatus(metaDir(table)).foreach { st =>
      val n = st.getPath.getName
      val isList = n.startsWith("snap-") && n.endsWith(".avro")
      val isManifest = n.endsWith("-m0.avro")
      if ((isList && !refLists.contains(n)) ||
        (isManifest && !refManifests.contains(n))) fs.delete(st.getPath, false)
    }
    // sweep unreferenced data files (qualified-path compare, the
    // DeltaLite.vacuum discipline)
    var deleted = 0L
    val dataRoot = new Path(table, "data")
    if (fs.exists(dataRoot)) {
      // concurrent-writer safety (the DeltaLite.vacuum discipline): a
      // commit-private staging directory mid-write (`_temporary` present)
      // is never swept, and files younger than `graceMs` are spared —
      // they may belong to a writer between staging and metadata commit
      val cutoff = System.currentTimeMillis() - graceMs
      val inFlight = fs.listStatus(dataRoot).filter(_.isDirectory)
        .filter(d => fs.exists(new Path(d.getPath, "_temporary")))
        .map(_.getPath.getName).toSet
      val it = fs.listFiles(dataRoot, /* recursive = */ true)
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) {
          // manifests record file paths as written ($table/data/…) — match
          // on the table-relative suffix to survive scheme qualification
          val rel = st.getPath.toUri.getPath
          // the staging dir is the path component directly under data/
          // (partitioned staging nests _p= dirs below it)
          var anc = st.getPath
          while (anc.getParent != null && anc.getParent.getName != "data")
            anc = anc.getParent
          val staging = anc.getName
          if (!refFiles.exists(r => rel.endsWith(
            r.stripPrefix(table).stripPrefix("/"))) &&
            !inFlight.contains(staging) &&
            st.getModificationTime < cutoff) {
            fs.delete(st.getPath, false)
            deleted += 1
          }
        }
      }
    }
    (expired.toLong, deleted)
  }

  /** The table's declared truncate partition spec, decoded back from the
    * metadata JSON (None = unpartitioned). */
  private def partitionSpec(meta: com.fasterxml.jackson.databind.JsonNode)
      : Option[PartField] =
    partitionSpecs(meta)(meta.get("default-spec-id").asInt())

  /** The table's current default partition spec as (sourceColumn,
    * truncateWidth) — what a new commit must declare. The SQL write
    * path ([[graft.sources.v2.GraftCatalog]]) reads it so SQL INSERTs
    * keep the table's physical layout. */
  private[graft] def currentPartitionSpec(spark: SparkSession,
      table: String): Option[PartField] = {
    val fs = hadoopFs(spark, table)
    val v = latestMetadataVersion(spark, table)
    require(v > 0, s"$table has no Iceberg metadata")
    partitionSpec(readMetadata(fs, table, v))
  }

  /** Every spec in the metadata's immutable id-addressed list, id →
    * Some((sourceColumn, truncateWidth)) or None for an unpartitioned
    * spec — the per-manifest evaluation table [[planPartitioned]] prunes
    * with after a spec evolution. */
  private def partitionSpecs(meta: com.fasterxml.jackson.databind.JsonNode)
      : Map[Int, Option[PartField]] = {
    // source-id resolves through the current schema BY FIELD ID (stable
    // across renames; a dropped partition source column is refused at
    // drop time, so live specs always resolve)
    val idToName = schemaFieldsById(meta,
      meta.get("current-schema-id").asInt()).map(f => f._1 -> f._2).toMap
    val out = mutable.Map.empty[Int, Option[PartField]]
    meta.get("partition-specs").forEach { s =>
      var found: Option[PartField] = None
      s.get("fields").forEach { f =>
        val sid = f.get("source-id").asInt()
        require(idToName.contains(sid),
          s"partition source-id $sid outside the schema")
        found = Some(PartField(idToName(sid),
          f.get("transform").asText()))
      }
      out(s.get("spec-id").asInt()) = found
    }
    out.toMap
  }

  /** Hidden-partitioning scan planning: the reader holds a predicate on
    * the SOURCE column (here: a wanted set of transform values — what a
    * range predicate on the source reduces to under `truncate`), and the
    * planner selects data files off the MANIFEST partition values alone —
    * no data file is opened, no footer read. Returns (matched files,
    * matched count, total file count): at 100 TB this is the layer that
    * turns a two-month query over a decade of data into a two-month
    * scan. */
  def planPartitioned(spark: SparkSession, table: String,
      wanted: Set[String]): (Seq[String], Long, Long) = {
    val fs = hadoopFs(spark, table)
    val v = latestMetadataVersion(spark, table)
    require(v > 0, s"$table has no Iceberg metadata")
    val meta = readMetadata(fs, table, v)
    val specs = partitionSpecs(meta)
    val default = partitionSpec(meta)
    require(default.isDefined, s"$table is not partitioned")
    val dpf = default.get
    val cur = meta.get("current-snapshot-id").asLong()
    val snap = metaJsonSnapshots(meta).find(_._1 == cur).get
    // `wanted` holds transform values of the CURRENT DEFAULT spec; each
    // manifest is evaluated against its OWN spec (spec §Partition
    // Evolution — residual evaluation per spec):
    //   same spec            → exact value match
    //   narrower truncate w' → keep if any wanted value's w'-prefix
    //                          matches (a superset bucket may hold rows)
    //   wider truncate w'    → keep if the value's defaultW-prefix is
    //                          wanted (a subset bucket)
    //   other column / unpartitioned spec → keep all (no residual exists)
    val all = listEntries(fs, new Path(snap._2)).filter(_.content == 0)
      .flatMap { m =>
        val mSpec = specs.getOrElse(m.specId, None)
        readAvroFile(fs, new Path(m.path))
          .filter(_.get("status").asInstanceOf[Int] != 2)
          .map { e =>
            val d = e.get("data_file").asInstanceOf[GenericRecord]
            val part = d.get("partition").asInstanceOf[GenericRecord]
            val pv0 = // null = the null partition, NOT "null"
              if (part.getSchema.getField("p0") == null) null
              else part.get("p0")
            val pv = if (pv0 == null) null else pv0.toString
            val keep = mSpec match {
              case Some(pf) if pf.source == dpf.source =>
                if (pv == null) wanted.contains(null)
                else if (pf.transform == dpf.transform) wanted.contains(pv)
                else if (pf.kind == "truncate" && dpf.kind == "truncate") {
                  // truncate-width residuals: a narrower historical width
                  // is a superset bucket, a wider one a subset bucket
                  if (pf.param < dpf.param)
                    wanted.exists(x => x != null && x.take(pf.param) == pv)
                  else wanted.contains(pv.take(dpf.param))
                }
                else true // cross-transform residuals: keep (never wrong)
              case _ => true // no residual under this manifest's spec
            }
            (d.get("file_path").toString, keep)
          }
      }
    val matched = all.filter(_._2).map(_._1)
    (matched, matched.size.toLong, all.size.toLong)
  }

  /** Value-bounds scan planning off the manifests' lower/upper bound
    * fields (spec field-ids 125/128): keep files whose recorded range
    * intersects [lo, hi]; files without bounds are conservatively kept.
    * With [[planPartitioned]] this completes the spec's pruning pair —
    * partition values prune coarse, column bounds prune inside a
    * partition — all without opening a data file. Returns (matched
    * files, matched count, total count). */
  def planBounds(spark: SparkSession, table: String, lo: Long,
      hi: Long): (Seq[String], Long, Long) = {
    val fs = hadoopFs(spark, table)
    val v = latestMetadataVersion(spark, table)
    require(v > 0, s"$table has no Iceberg metadata")
    val meta = readMetadata(fs, table, v)
    val cur = meta.get("current-snapshot-id").asLong()
    val snap = metaJsonSnapshots(meta).find(_._1 == cur).get
    val all = listEntries(fs, new Path(snap._2)).filter(_.content == 0)
      .flatMap { m =>
      readAvroFile(fs, new Path(m.path))
        .filter(_.get("status").asInstanceOf[Int] != 2)
        .map { e =>
          val d = e.get("data_file").asInstanceOf[GenericRecord]
          val hasBounds = d.getSchema.getField("lower_bound") != null &&
            d.get("lower_bound") != null && d.get("upper_bound") != null
          val keep = !hasBounds ||
            (d.get("upper_bound").asInstanceOf[Long] >= lo &&
              d.get("lower_bound").asInstanceOf[Long] <= hi)
          (d.get("file_path").toString, keep)
        }
    }
    val matched = all.filter(_._2).map(_._1)
    (matched, matched.size.toLong, all.size.toLong)
  }

  /** Per-file spec column statistics for `column` off the manifests:
    * (path, lower, upper, null count) — bounds absent when the file was
    * written without [[write]]`(statsColumns)` or the bound was dropped
    * (untruncatable upper). Control-plane reads only. */
  private def colStatsFor(spark: SparkSession, table: String,
      column: String): Seq[(String, Option[Array[Byte]],
      Option[Array[Byte]], Option[Long])] = {
    val fs = hadoopFs(spark, table)
    val v = latestMetadataVersion(spark, table)
    require(v > 0, s"$table has no Iceberg metadata")
    val meta = readMetadata(fs, table, v)
    // the column's FIELD ID (stable across renames — stats written
    // under the old name keep resolving, which is the id system's point)
    val fid = currentFieldIds(meta).getOrElse(column,
      throw new IllegalArgumentException(
        s"stats column $column not in $table schema"))
    val cur = meta.get("current-snapshot-id").asLong()
    val snap = metaJsonSnapshots(meta).find(_._1 == cur).get
    def entry(d: GenericRecord, field: String, want: Int): Option[Any] = {
      if (d.getSchema.getField(field) == null) return None
      val arr = d.get(field)
      if (arr == null) return None
      var found: Option[Any] = None
      arr.asInstanceOf[java.util.List[_]].forEach { r0 =>
        val r = r0.asInstanceOf[GenericRecord]
        if (r.get("key").asInstanceOf[Int] == want) found = Some(r.get("value"))
      }
      found
    }
    def bytesOf(v0: Any): Array[Byte] = v0 match {
      case bb: java.nio.ByteBuffer =>
        val b = new Array[Byte](bb.remaining()); bb.duplicate().get(b); b
      case a: Array[Byte] => a
    }
    listEntries(fs, new Path(snap._2)).filter(_.content == 0).flatMap { m =>
      readAvroFile(fs, new Path(m.path))
        .filter(_.get("status").asInstanceOf[Int] != 2)
        .map { e =>
          val d = e.get("data_file").asInstanceOf[GenericRecord]
          (d.get("file_path").toString,
            entry(d, "lower_bounds", fid).map(bytesOf),
            entry(d, "upper_bounds", fid).map(bytesOf),
            entry(d, "null_value_counts", fid)
              .map(_.asInstanceOf[Long]))
        }
    }
  }

  /** STRING-bounds scan planning (spec lower_bounds/upper_bounds over a
    * string column, truncated binary encoding): keep files whose
    * recorded [lower, upper] may intersect [lo, hi]; files without
    * bounds are conservatively kept. Truncation keeps this sound —
    * a truncated lower is ≤ the true min, an incremented-truncated
    * upper ≥ the true max. Bounds compare as unsigned UTF-8 bytes, the
    * order they were computed in (parquet footers and Spark's
    * `min`/`max`); UTF-16 `String` order differs above the BMP.
    * Returns (matched, nMatched, nTotal). */
  def planStringRange(spark: SparkSession, table: String, column: String,
      lo: String, hi: String): (Seq[String], Long, Long) = {
    def cmp(bound: Array[Byte], v: String) = java.util.Arrays
      .compareUnsigned(bound, v.getBytes(StandardCharsets.UTF_8))
    val all = colStatsFor(spark, table, column).map {
      case (p, lb, ub, _) =>
        val keep = (lb, ub) match {
          case (Some(l), Some(u)) => cmp(u, lo) >= 0 && cmp(l, hi) <= 0
          case _ => true
        }
        (p, keep)
    }
    val matched = all.filter(_._2).map(_._1)
    (matched, matched.size.toLong, all.size.toLong)
  }

  /** IS NULL scan planning off null_value_counts (spec field 110): keep
    * only files that MAY hold a null of `column` (recorded count > 0, or
    * no stats). A file with a recorded zero is skipped — at 100 TB the
    * null-audit query (the reference's data-quality shape) opens only
    * the files that can answer it. */
  def planNulls(spark: SparkSession, table: String, column: String)
      : (Seq[String], Long, Long) = {
    val all = colStatsFor(spark, table, column).map { case (p, _, _, nc) =>
      (p, nc.forall(_ > 0L))
    }
    val matched = all.filter(_._2).map(_._1)
    (matched, matched.size.toLong, all.size.toLong)
  }

  private def metaJsonSnapshots(meta: com.fasterxml.jackson.databind.JsonNode)
      : Seq[(Long, String)] = {
    val out = mutable.ArrayBuffer.empty[(Long, String)]
    meta.get("snapshots").forEach(s =>
      out += ((s.get("snapshot-id").asLong(), s.get("manifest-list").asText())))
    out.toSeq
  }

  /** Data files of a snapshot: manifest list → manifests → live entries
    * (status != DELETED). All control-plane reads. */
  private[graft] def snapshotFiles(spark: SparkSession, table: String,
      snapshotId: Long, metaV: Int = -1): Seq[String] =
    snapshotManifestFiles(spark, table, snapshotId, content = 0,
      metaV = metaV).map(_._1)

  /** DELETE files live in a snapshot exactly like data files — listed by
    * manifests whose list row says content = 1. */
  private[graft] def snapshotDeleteFiles(spark: SparkSession, table: String,
      snapshotId: Long, metaV: Int = -1): Seq[String] =
    snapshotDeleteEntries(spark, table, snapshotId, metaV = metaV).map(_.path)

  /** Exact current-snapshot table size off the manifests alone:
    * (row count, data bytes) — the control-plane numbers a cost-based
    * planning decision reads without touching a data file. */
  private[graft] def tableSizeStats(spark: SparkSession,
      table: String): (Long, Long) = {
    val fs = hadoopFs(spark, table)
    val v = latestMetadataVersion(spark, table)
    require(v > 0, s"$table has no Iceberg metadata")
    val meta = readMetadata(fs, table, v)
    val cur = meta.get("current-snapshot-id").asLong()
    val snap = metaJsonSnapshots(meta).find(_._1 == cur).get
    var rows = 0L
    var bytes = 0L
    listEntries(fs, new Path(snap._2)).filter(_.content == 0).foreach { m =>
      readAvroFile(fs, new Path(m.path))
        .filter(_.get("status").asInstanceOf[Int] != 2)
        .foreach { e =>
          val d = e.get("data_file").asInstanceOf[GenericRecord]
          rows += d.get("record_count").asInstanceOf[Long]
          bytes += d.get("file_size_in_bytes").asInstanceOf[Long]
        }
    }
    (rows, bytes)
  }

  /** The current snapshot's live data files GROUPED BY partition value —
    * (transform value, [(absolute path, file size)]) — the planning
    * input for the storage-partitioned-join scan
    * ([[graft.sources.v2.GraftCatalog]]): one key-grouped input
    * partition per transform value, exchange-free joins downstream.
    * Control-plane reads only. Refuses when any manifest was written
    * under a DIFFERENT spec than the current default (a spec evolution
    * breaks the one-value-one-group invariant — compact first). */
  private[graft] def snapshotFilesByPartition(spark: SparkSession,
      table: String): Seq[(String, Seq[(String, Long)])] = {
    val fs = hadoopFs(spark, table)
    val v = latestMetadataVersion(spark, table)
    require(v > 0, s"$table has no Iceberg metadata")
    val meta = readMetadata(fs, table, v)
    require(partitionSpec(meta).isDefined, s"$table is not partitioned")
    val defaultSpecId = meta.get("default-spec-id").asInt()
    val cur = meta.get("current-snapshot-id").asLong()
    val snap = metaJsonSnapshots(meta).find(_._1 == cur).get
    val out = mutable.Map.empty[String, mutable.ArrayBuffer[(String, Long)]]
    listEntries(fs, new Path(snap._2)).filter(_.content == 0).foreach { m =>
      require(m.specId == defaultSpecId,
        s"manifest ${m.path} was written under spec ${m.specId}, not the " +
          s"default $defaultSpecId — key-grouped scans need one spec; " +
          "rewriteDataFiles first")
      readAvroFile(fs, new Path(m.path))
        .filter(_.get("status").asInstanceOf[Int] != 2)
        .foreach { e =>
          val d = e.get("data_file").asInstanceOf[GenericRecord]
          val part = d.get("partition").asInstanceOf[GenericRecord]
          val pv = Option(part.get("p0")).map(_.toString).orNull
          out.getOrElseUpdate(pv, mutable.ArrayBuffer.empty) +=
            ((d.get("file_path").toString,
              d.get("file_size_in_bytes").asInstanceOf[Long]))
        }
    }
    out.toSeq.map { case (v2, fs2) => (v2, fs2.toSeq) }.sortBy(_._1)
  }

  /** (file_path, sequence_number) of every live file of the given kind in
    * a snapshot: manifest list → manifests of that `content` → entries
    * with status != DELETED. All control-plane reads. */
  /** Entry-level sequence_number / snapshot_id with manifest-list
    * inheritance (spec: null means "inherit") — a rewritten manifest
    * (rewriteManifests) carries originals explicitly. */
  private def entrySeqOf(e: GenericRecord, inherited: Long): Long = {
    val f = e.getSchema.getField("sequence_number")
    if (f == null) inherited
    else Option(e.get("sequence_number")).map(_.asInstanceOf[Long])
      .getOrElse(inherited)
  }

  private def entrySidOf(e: GenericRecord, inherited: Long): Long =
    Option(e.get("snapshot_id")).map(_.asInstanceOf[Long])
      .getOrElse(inherited)

  private def snapshotManifestFiles(spark: SparkSession, table: String,
      snapshotId: Long, content: Int, metaV: Int = -1): Seq[(String, Long)] =
    snapshotManifestEntries(spark, table, snapshotId, content, metaV)
      .map(e => (e._1, e._2))

  /** Like [[snapshotManifestFiles]] but also carrying each file's
    * ADDING snapshot id (the manifest's added_snapshot_id, preserved
    * through partial rewrites) — the coordinate that resolves which
    * SCHEMA a data file's parquet column names were written under. */
  private def snapshotManifestEntries(spark: SparkSession, table: String,
      snapshotId: Long, content: Int, metaV: Int = -1)
      : Seq[(String, Long, Long)] = {
    val fs = hadoopFs(spark, table)
    val v = if (metaV > 0) metaV else latestMetadataVersion(spark, table)
    require(v > 0, s"$table has no Iceberg metadata")
    val meta = readMetadata(fs, table, v)
    val wanted =
      if (snapshotId < 0) meta.get("current-snapshot-id").asLong() else snapshotId
    val snap = metaJsonSnapshots(meta).find(_._1 == wanted).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot $wanted not in $table metadata v$v"))
    listEntries(fs, new Path(snap._2)).filter(_.content == content)
      .flatMap { m =>
        readAvroFile(fs, new Path(m.path))
          .filter(_.get("status").asInstanceOf[Int] != 2)
          .map(e => (e.get("data_file").asInstanceOf[GenericRecord]
            .get("file_path").toString, entrySeqOf(e, m.seq),
            entrySidOf(e, m.addedSid)))
      }
  }

  /** One live DELETE-manifest entry. `kind` comes from data_file.content
    * (field-id 134): 1 = position deletes, 2 = equality deletes, and 3 =
    * a v3 DELETION VECTOR — a content=1 entry naming a
    * referenced_data_file, whose carrier is a Puffin blob, NOT parquet
    * (kind 3 so no consumer parquet-reads it by accident). `dv` holds the
    * vector's (referenced data-file key, blob offset, blob size).
    * Sequence number and adding snapshot follow the spec's manifest-list
    * inheritance. */
  private[graft] final case class DeleteEntry(path: String, seq: Long,
      kind: Int, addedSid: Long, dv: Option[(String, Long, Long)])

  /** The live delete entries of one manifest list — the only decoder of
    * delete manifests. */
  private def deleteEntriesOf(fs: FileSystem, listPath: String)
      : Seq[DeleteEntry] =
    listEntries(fs, new Path(listPath)).filter(_.content == 1).flatMap { m =>
      readAvroFile(fs, new Path(m.path))
        .filter(_.get("status").asInstanceOf[Int] != 2)
        .map { e =>
          val d = e.get("data_file").asInstanceOf[GenericRecord]
          val ref =
            if (d.getSchema.getField("referenced_data_file") == null) null
            else d.get("referenced_data_file")
          val kind =
            if (d.getSchema.getField("content") == null) 1 // pre-field writers
            else if (ref != null) 3
            else d.get("content").asInstanceOf[Int]
          DeleteEntry(d.get("file_path").toString, entrySeqOf(e, m.seq),
            kind, entrySidOf(e, m.addedSid),
            Option(ref).map(r => (FileKey(r.toString),
              d.get("content_offset").asInstanceOf[Long],
              d.get("content_size_in_bytes").asInstanceOf[Long])))
        }
    }

  /** Every live delete entry of a snapshot (current when < 0). */
  private[graft] def snapshotDeleteEntries(spark: SparkSession, table: String,
      snapshotId: Long, metaV: Int = -1): Seq[DeleteEntry] = {
    val fs = hadoopFs(spark, table)
    val v = if (metaV > 0) metaV else latestMetadataVersion(spark, table)
    require(v > 0, s"$table has no Iceberg metadata")
    val meta = readMetadata(fs, table, v)
    val wanted =
      if (snapshotId < 0) meta.get("current-snapshot-id").asLong() else snapshotId
    val snap = metaJsonSnapshots(meta).find(_._1 == wanted).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot $wanted not in $table metadata v$v"))
    deleteEntriesOf(fs, snap._2)
  }

  /** Incremental read: rows ADDED in snapshots (fromSnap, toSnap] —
    * directly off the manifest list's `added_snapshot_id` field (each
    * manifest records which snapshot added it, so the incremental file
    * set needs no diffing). A range containing an overwrite snapshot
    * REFUSES (its summary says so) — an append-only feed cannot represent
    * logical deletion, the [[DeltaLite.readChanges]] contract. */
  def readChanges(spark: SparkSession, table: String, fromSnap: Long,
      toSnap: Long): DataFrame = {
    val fs = hadoopFs(spark, table)
    val v = latestMetadataVersion(spark, table)
    require(v > 0, s"$table has no Iceberg metadata")
    val meta = readMetadata(fs, table, v)
    meta.get("snapshots").forEach { s =>
      val sid = s.get("snapshot-id").asLong()
      val op = s.get("summary").get("operation").asText()
      // `replace` (rewriteDataFiles) changes no rows, but it REPLACES the
      // manifest list, so the added_snapshot_id walk below can no longer
      // attribute earlier rows to their true snapshots — refuse rather
      // than double-count (full ancestry-walking incremental scan is
      // Iceberg's own answer; out of this subset, stated as such)
      if (sid > fromSnap && sid <= toSnap &&
        (op == "overwrite" || op == "replace" || op == "delete"))
        throw new UnsupportedOperationException(
          s"snapshot $sid ${op}s rows/files: append-only change feed " +
            "cannot represent it — use row-level CDC")
    }
    val snap = metaJsonSnapshots(meta).find(_._1 == toSnap).getOrElse(
      throw new IllegalArgumentException(s"snapshot $toSnap not in $table"))
    val files = listEntries(fs, new Path(snap._2))
      .filter(m => m.content == 0 &&
        m.addedSid > fromSnap && m.addedSid <= toSnap)
      .flatMap(m => readAvroFile(fs, new Path(m.path))
        .filter(_.get("status").asInstanceOf[Int] != 2)
        .map(_.get("data_file").asInstanceOf[GenericRecord]
          .get("file_path").toString))
    require(files.nonEmpty, s"no files added in ($fromSnap, $toSnap] on $table")
    ParquetDirect.read(spark, files: _*)
  }

  /** The (snapshotId, timestamp-ms) ledger of every retained snapshot
    * carrying a REAL stamp (> 0), ascending by id — the table's time
    * axis when its writers declared one ([[write]]`(timestampMs)`). */
  def snapshotLedger(spark: SparkSession, table: String): Seq[(Long, Long)] = {
    val fs = hadoopFs(spark, table)
    val v = latestMetadataVersion(spark, table)
    require(v > 0, s"$table has no Iceberg metadata")
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    readMetadata(fs, table, v).get("snapshots").forEach { sn =>
      val ts = sn.path("timestamp-ms").asLong(0L)
      if (ts > 0L) out += ((sn.get("snapshot-id").asLong(), ts))
    }
    out.sortBy(_._1).toSeq
  }

  /** ANCESTRY-WALKING incremental read: rows added in (fromSnap, toSnap],
    * tolerant of `replace` (rewriteDataFiles) snapshots in the range —
    * the full-strength form of [[readChanges]], which attributes files
    * off the LATEST manifest list and therefore must refuse once a
    * replace has rewritten that list. Here each snapshot in range is
    * walked through its OWN retained manifest list and contributes
    * exactly the manifests it added (added_snapshot_id == its id):
    *   - `append` snapshots contribute their added data files (the rows
    *     first committed in that snapshot — still on disk within the
    *     retention window, even if a later replace compacted them away
    *     from the CURRENT snapshot);
    *   - `replace` snapshots contribute nothing (byte-not-row rewrites
    *     add no rows — Iceberg's own incremental appends scan makes the
    *     same move);
    *   - `overwrite` / `delete` snapshots REFUSE: logical row removal has
    *     no representation in an append-only feed (X36h's contract).
    * Every walked snapshot must still be retained (expiration removes
    * the ancestry evidence — refuse by absence, never guess). */
  def readChangesAncestry(spark: SparkSession, table: String, fromSnap: Long,
      toSnap: Long): DataFrame = {
    val fs = hadoopFs(spark, table)
    val v = latestMetadataVersion(spark, table)
    require(v > 0, s"$table has no Iceberg metadata")
    val meta = readMetadata(fs, table, v)
    val snapLists = metaJsonSnapshots(meta).toMap
    val files = mutable.ArrayBuffer.empty[String]
    meta.get("snapshots").forEach { s =>
      val sid = s.get("snapshot-id").asLong()
      if (sid > fromSnap && sid <= toSnap) {
        val op = s.get("summary").get("operation").asText()
        op match {
          case "overwrite" | "delete" =>
            throw new UnsupportedOperationException(
              s"snapshot $sid ${op}s rows: append-only change feed cannot " +
                "represent it — use row-level CDC")
          case "replace" => // byte rewrite, no new rows
          case _ =>
            files ++= listEntries(fs, new Path(snapLists(sid)))
              .filter(m => m.content == 0 && m.addedSid == sid)
              .flatMap(m => readAvroFile(fs, new Path(m.path))
                .filter(_.get("status").asInstanceOf[Int] != 2)
                .map(_.get("data_file").asInstanceOf[GenericRecord]
                  .get("file_path").toString))
        }
      }
    }
    // a requested range reaching past retention is an error, not silence
    (fromSnap + 1 to toSnap).foreach(sid => require(snapLists.contains(sid),
      s"snapshot $sid expired from $table: ancestry walk cannot attribute " +
        "its rows"))
    require(files.nonEmpty, s"no files added in ($fromSnap, $toSnap] on $table")
    ParquetDirect.read(spark, files.toSeq: _*)
  }

  /** ROW-LEVEL CHANGELOG scan over (fromSnap, toSnap] — the
    * full-strength form [[readChanges]]/[[readChangesAncestry]] refuse
    * down to (Iceberg's own `create_changelog_view`): every snapshot
    * kind is representable, because each snapshot's changes derive from
    * the STATE DIFF against its parent instead of an append-only
    * attribution walk. Output = the table's columns + `_change_type`
    * (`insert` | `delete`) + `_snapshot_id`. Per snapshot, ascending:
    *
    *   - data files ADDED vs the parent (set diff by file key — robust
    *     whether the manifest list was carried by reference, rewritten
    *     by a COW overwrite, or freshly written) → their rows as
    *     `insert`;
    *   - data files REMOVED vs the parent → their rows AS LIVE AT THE
    *     PARENT (earlier position/equality deletes already subtracted —
    *     a masked row must not re-report its deletion) as `delete`;
    *   - DELETE FILES added in the snapshot (merge-on-read DML) → the
    *     parent-live rows they mask, found by one [[MaskFilter]]
    *     filter over the parent view (positions, vectors and equality
    *     tuples alike) as `delete` — so a MOR UPDATE surfaces as its
    *     delete+insert pair, exactly how Iceberg's changelog renders
    *     updates;
    *   - `replace` (rewriteDataFiles) snapshots contribute NOTHING:
    *     byte-not-row rewrites are invisible to a row-level feed.
    *
    * Like the ancestry walk, every snapshot in range must still be
    * retained (expiration removes the evidence — refuse, never guess),
    * and a parent expired out from under a snapshot refuses too. COW
    * rewrites report at FILE grain (carried rows appear as delete+insert
    * pairs, Iceberg's own changelog behavior for copy-on-write); MOR
    * commits report exactly the touched rows. Cost: control-plane
    * manifest reads per snapshot plus targeted scans of only the
    * added/removed/masked files — O(changed bytes), never O(table). */
  def readChangelog(spark: SparkSession, table: String, fromSnap: Long,
      toSnap: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val fs = hadoopFs(spark, table)
    val v = latestMetadataVersion(spark, table)
    require(v > 0, s"$table has no Iceberg metadata")
    val meta = readMetadata(fs, table, v)
    val snapLists = metaJsonSnapshots(meta).toMap
    // snapshot ids derive from metadata versions, which metadata-only
    // commits (rollback, statistics, refs, expiration) also consume — ids
    // legitimately skip integers, so NO dense-id assertion (it would
    // spuriously refuse fully-retained ranges on such tables). Retention
    // is validated on the ids actually in the snapshots list: the upper
    // endpoint here (an expired endpoint would silently truncate the
    // feed), every in-range snapshot by membership, and each one's
    // parent by the per-snapshot check below.
    require(snapLists.contains(toSnap),
      s"snapshot $toSnap is not a retained snapshot of $table: changelog " +
        "cannot reconstruct its changes (expired, or a metadata-only " +
        "version id — pass a snapshot id)")
    val ops = mutable.Map.empty[Long, String]
    val parents = mutable.Map.empty[Long, Long]
    meta.get("snapshots").forEach { s =>
      val sid = s.get("snapshot-id").asLong()
      ops(sid) = s.get("summary").get("operation").asText()
      if (s.has("parent-snapshot-id"))
        parents(sid) = s.get("parent-snapshot-id").asLong()
    }
    val sids = snapLists.keySet.filter(s => s > fromSnap && s <= toSnap)
      .toSeq.sorted
    require(sids.nonEmpty, s"no snapshots in ($fromSnap, $toSnap] on $table")
    val slices = sids.flatMap { sid =>
      if (ops(sid) == "replace") Seq.empty[DataFrame]
      else {
        // parent = recorded pointer, else the nearest lower snapshot id
        // (ids are this writer's monotone commit order); None on the
        // table-creating snapshot
        val parent: Option[Long] = parents.get(sid).orElse(
          snapLists.keySet.filter(_ < sid).reduceOption(_ max _))
        parent.foreach(p => require(snapLists.contains(p),
          s"parent snapshot $p of $sid expired from $table: changelog " +
            "cannot reconstruct the state diff"))
        val curFiles = snapshotManifestFiles(spark, table, sid, content = 0)
          .map { case (p, _) => (FileKey(p), p) }.toMap
        val parE = parent.map(p =>
          snapshotManifestFiles(spark, table, p, content = 0))
          .getOrElse(Nil)
        val parFiles = parE.map { case (q, _) => (FileKey(q), q) }.toMap
        val parSeq = parE.map { case (q, seq) => (FileKey(q), seq) }.toMap
        val addedPaths = (curFiles.keySet -- parFiles.keySet).toSeq.sorted
          .map(curFiles)
        val removedKeys = parFiles.keySet -- curFiles.keySet
        val schema = schemaForSnapshot(meta, sid)
        val inserts =
          if (addedPaths.isEmpty) None
          else Some(spark.read.schema(schema).parquet(addedPaths: _*)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_snapshot_id", lit(sid)))
        val cowDeletes =
          if (removedKeys.isEmpty) None
          else Some(readLive(spark, table, parent.get, keepMeta = true,
              onlyFiles = Some(removedKeys))
            .drop("__fn", "__ri")
            .withColumn("_change_type", lit("delete"))
            .withColumn("_snapshot_id", lit(sid)))
        // delete FILES this snapshot added (MOR DML): the rows they mask
        // were live at the parent — the parent view filtered to the rows
        // the new deletes alone kill (positions, vectors and equality
        // tuples in one executor filter)
        val newDeletes = deleteEntriesOf(fs, snapLists(sid))
          .filter(_.addedSid == sid)
        val morDeletes =
          if (newDeletes.isEmpty) None
          else {
            // a vector committed here is the file's SUPERSET vector; its
            // positions already masked at the parent are not parent-live,
            // so the filter announces exactly its fresh deletions
            val killed = maskOf(spark, newDeletes, parSeq)
            Some(MaskFilter(spark,
                readLive(spark, table, parent.get, keepMeta = true),
                killed, alive = false)
              .drop("__fn", "__ri")
              .withColumn("_change_type", lit("delete"))
              .withColumn("_snapshot_id", lit(sid)))
          }
        Seq(cowDeletes, morDeletes, inserts).flatten
      }
    }
    require(slices.nonEmpty,
      s"only replace snapshots in ($fromSnap, $toSnap] on $table — no row changes")
    slices.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** One file of a snapshot's CHANGE SET, as the streaming change feed
    * plans it (X297, Iceberg side): `insert` units are data files the
    * snapshot added; COW `delete` units are files it removed, whose
    * deleted rows are the file's rows MINUS `skip` (positions the
    * PARENT's pos-deletes already masked — they must not re-announce)
    * MINUS `skipEq` (values the parent's equality deletes already
    * masked, sequence-gated driver-side per file); MOR `delete` units
    * carry `emit` — exactly the row positions this snapshot's new
    * position-delete files mask — or `emitEq` (X301): the value lists a
    * new EQUALITY-delete commit masks, evaluated reader-side against
    * each parent-live file so streaming-upsert tables stream their feed
    * too. A unit's served rows = (emit ∪ emitEq match, or all rows when
    * neither is set) − skip − skipEq. */
  private[graft] final case class IceChangeUnit(absPath: String,
      kind: String, emit: Array[Long], skip: Array[Long],
      emitEq: Seq[EqVals] = Nil,
      skipEq: Seq[EqVals] = Nil)

  /** Snapshot `sid`'s change units for the STREAMING feed — the same
    * per-snapshot state-diff rules as [[readChangelog]] (added files as
    * inserts, removed files' parent-live rows as deletes, new
    * position-delete files' masked rows as deletes, a new EQUALITY
    * delete's masked rows as value-filtered deletes over every
    * parent-live file — the same per-row cost the batch changelog's
    * mask filter pays, just file-granular; `replace` snapshots are
    * row-silent), but as FILE-GRANULAR plans an executor-side reader
    * serves. Ids absent from the snapshots list (metadata-only
    * versions) contribute nothing. Position lists and equality values
    * pass through the driver bounded by the DELETED-row count (the
    * deleteWhereDV cost model). */
  private[graft] def changeUnits(spark: SparkSession, table: String,
      sid: Long): Seq[IceChangeUnit] = {
    val fs = hadoopFs(spark, table)
    val v = latestMetadataVersion(spark, table)
    require(v > 0, s"$table has no Iceberg metadata")
    val meta = readMetadata(fs, table, v)
    val snapLists = metaJsonSnapshots(meta).toMap
    if (!snapLists.contains(sid)) return Seq.empty // metadata-only gap
    var op = "append"
    var parentRec: Option[Long] = None
    meta.get("snapshots").forEach { s =>
      if (s.get("snapshot-id").asLong() == sid) {
        op = s.get("summary").get("operation").asText()
        if (s.has("parent-snapshot-id"))
          parentRec = Some(s.get("parent-snapshot-id").asLong())
      }
    }
    if (op == "replace") return Seq.empty // compaction: rows unchanged
    val parent: Option[Long] = parentRec.orElse(
      snapLists.keySet.filter(_ < sid).reduceOption(_ max _))
    parent.foreach(p => require(snapLists.contains(p),
      s"parent snapshot $p of $sid expired from $table: the change " +
        "stream cannot reconstruct the state diff"))
    val curE = snapshotManifestEntries(spark, table, sid, content = 0)
    val cur = curE.map { case (p, _, _) => (FileKey(p), p) }.toMap
    val parE = parent.map(p =>
      snapshotManifestEntries(spark, table, p, content = 0))
      .getOrElse(Seq.empty)
    val parSeqAndPath =
      parE.map { case (q, s, _) => (FileKey(q), (q, s)) }.toMap
    val par = parSeqAndPath.map { case (k, (q, _)) => (k, q) }
    // the feed's executor-side readers scan files BY NAME under the
    // table's current schema — refuse units over files written under
    // since-renamed names (remedy: rewriteDataFiles; scoped to THIS
    // snapshot's involved files, never the whole feed)
    locally {
      val readSid = meta.get("current-schema-id").asInt()
      val readFields = schemaFieldsById(meta, readSid)
      val sidToSchema = snapshotSchemaIds(meta)
      require((curE ++ parE).forall { e =>
        val w = sidToSchema.getOrElse(e._3, readSid)
        w == readSid || nameIdentical(meta, readFields, w)
      }, s"snapshot $sid of $table involves files written under " +
        "since-renamed column names — IcebergLite.rewriteDataFiles first")
    }
    val sidDel = deleteEntriesOf(fs, snapLists(sid))
    val parDel = parent.map(p => deleteEntriesOf(fs, snapLists(p)))
      .getOrElse(Nil)
    // a file's parent-side position mask (parquet rows ∪ vector, gated
    // to the parent's files): those rows were already dead and must not
    // re-announce. Positions pass the driver bounded by deleted-row count
    // (the DV cost model).
    val parentPos = maskOf(spark, parDel.filter(_.kind != 2),
      parSeqAndPath.map { case (k, (_, seq)) => (k, seq) }).posByFile
    def parentMask(k: String): Array[Long] =
      parentPos.getOrElse(k, Array.empty[Long])
    // equality-delete payloads load LAZILY, per file, ONLY when a
    // planned unit actually needs that file's values (r15 advice: eager
    // validation of every live parent file made one exotic delete file
    // anywhere wedge the whole feed retroactively) — and the payload is
    // an N-column TUPLE relation, so composite-key CDC deletes stream
    // their feed too (the X305 subset, closed). Sequence gating uses
    // the manifest entries' own seq, so NO file is read to decide
    // whether it applies.
    val eqCache = mutable.Map.empty[String, EqVals]
    def eqValue(e: DeleteEntry): EqVals =
      eqCache.getOrElseUpdate(e.path, EqVals.load(spark, e.path, e.seq))
    val parentEqEntries = parDel.filter(_.kind == 2)
    // the parent's equality state, sequence-gated per parent file:
    // values that already masked rows there must not re-announce
    def skipEqFor(k: String): Seq[EqVals] =
      parSeqAndPath.get(k).map { case (_, dseq) =>
        parentEqEntries.filter(_.seq > dseq).map(eqValue)
      }.getOrElse(Nil)
    val newDel = sidDel.filter(_.addedSid == sid)
    // positions and vectors committed at THIS snapshot (deleteWhereDV
    // never pairs a vector with a parquet delete in one commit): a
    // vector's SUPERSET content minus the parent mask is exactly its
    // fresh deletions, like a new position-delete file's rows
    val newPos = maskOf(spark, newDel.filter(_.kind != 2),
      (parE ++ curE).map(e => (FileKey(e._1), e._2)).toMap).posByFile
    val inserts = (cur.keySet -- par.keySet).toSeq.sorted.map(k =>
      IceChangeUnit(cur(k), "insert", null, Array.empty))
    val cowDeletes = (par.keySet -- cur.keySet).toSeq.sorted.map(k =>
      IceChangeUnit(par(k), "delete", null,
        parentMask(k), skipEq = skipEqFor(k)))
    val morDeletes = newPos.toSeq.sortBy(_._1).flatMap { case (k, pos) =>
      // a re-delete's already-masked positions must not re-announce
      val prior = parentMask(k).toSet
      val fresh = pos.filterNot(prior)
      if (fresh.isEmpty) None
      else par.get(k).orElse(cur.get(k)).map(p =>
        IceChangeUnit(p, "delete", fresh, Array.empty,
          skipEq = skipEqFor(k)))
    }
    // a new EQUALITY delete (X301) masks matching LIVE rows in every
    // parent file with a strictly smaller sequence — one value-filter
    // unit per file, the file-granular spelling of the batch
    // changelog's filter (announcing the deleted rows costs a scan of
    // the candidate files in EITHER face; the units stay executor-side
    // and admission-controlled)
    val newEqEntries = newDel.filter(_.kind == 2)
    val eqDeletes =
      if (newEqEntries.isEmpty) Nil
      else par.toSeq.sortBy(_._1).flatMap { case (k, p) =>
        val dseq = parSeqAndPath(k)._2
        val applicable = newEqEntries.filter(_.seq > dseq).map(eqValue)
        if (applicable.isEmpty) None
        else Some(IceChangeUnit(p, "delete", null,
          parentMask(k),
          emitEq = applicable, skipEq = skipEqFor(k)))
      }
    inserts ++ cowDeletes ++ morDeletes ++ eqDeletes
  }

  /** NET CHANGES over (fromSnap, toSnap] — [[readChangelog]] folded to
    * its endpoint-to-endpoint effect (Iceberg's `net_changes` option):
    * per distinct row VALUE, inserts count +1 and deletes −1 across the
    * range; rows whose multiplicity nets to zero VANISH — a row
    * inserted then deleted inside the range, and the delete+insert
    * pairs a copy-on-write rewrite reports for carried rows, cancel
    * exactly. Output = the table's columns + `_change_type` + `_net`
    * (|multiplicity change|). One shuffle of CHANGED rows only — the
    * table itself is never grouped. */
  def readChangelogNet(spark: SparkSession, table: String, fromSnap: Long,
      toSnap: Long): DataFrame = {
    import org.apache.spark.sql.functions.{abs, col, lit, sum, when}
    val cl = readChangelog(spark, table, fromSnap, toSnap)
    val valueCols = cl.columns.filterNot(c =>
      c == "_change_type" || c == "_snapshot_id").toSeq
    cl.groupBy(valueCols.map(col): _*)
      .agg(sum(when(col("_change_type") === "insert", 1L)
        .otherwise(-1L)).as("__net"))
      .where(col("__net") =!= 0L)
      .withColumn("_change_type",
        when(col("__net") > 0, "insert").otherwise("delete"))
      .withColumn("_net", abs(col("__net")))
      .drop("__net")
  }

  private def sparkType(t: String): org.apache.spark.sql.types.DataType =
    t match {
      case "long" => LongType
      case "double" => DoubleType
      case "string" => StringType
      case "int" => org.apache.spark.sql.types.IntegerType
      case "boolean" => org.apache.spark.sql.types.BooleanType
      case "float" => org.apache.spark.sql.types.FloatType
      case "date" => org.apache.spark.sql.types.DateType
      case "timestamp" => org.apache.spark.sql.types.TimestampType
      case other => throw new IllegalArgumentException(
        s"type $other outside the IcebergLite subset")
    }

  /** The schema a snapshot was written under (its `schema-id` into the
    * immutable `schemas` list) — Iceberg's time-travel contract: a
    * historical read uses the schema of its own snapshot, the current
    * read the current schema. */
  private def schemaForSnapshot(meta: com.fasterxml.jackson.databind.JsonNode,
      snapshotId: Long): StructType = {
    var sid = meta.get("current-schema-id").asInt()
    meta.get("snapshots").forEach { s =>
      if (s.get("snapshot-id").asLong() == snapshotId && s.has("schema-id"))
        sid = s.get("schema-id").asInt()
    }
    schemaById(meta, sid)
  }

  /** The schema-id in force at `snapshotId` (current when the snapshot
    * predates recorded schema-ids or is unknown). */
  private def schemaIdForSnapshot(
      meta: com.fasterxml.jackson.databind.JsonNode,
      snapshotId: Long): Int = {
    var sid = meta.get("current-schema-id").asInt()
    meta.get("snapshots").forEach { s =>
      if (s.get("snapshot-id").asLong() == snapshotId && s.has("schema-id"))
        sid = s.get("schema-id").asInt()
    }
    sid
  }

  /** The table's CURRENT schema — what head reads scan under (Iceberg's
    * rule: scans use the table schema; time travel uses the snapshot's
    * own). Distinct from [[schemaForSnapshot]] since a metadata-only
    * evolution ([[addColumn]]) can move `current-schema-id` past the
    * head snapshot's recorded schema-id. */
  private def currentSchema(
      meta: com.fasterxml.jackson.databind.JsonNode): StructType =
    schemaById(meta, meta.get("current-schema-id").asInt())

  private def schemaById(meta: com.fasterxml.jackson.databind.JsonNode,
      sid: Int): StructType = {
    val fields = mutable.ArrayBuffer.empty[org.apache.spark.sql.types.StructField]
    meta.get("schemas").forEach { sch =>
      if (sch.get("schema-id").asInt() == sid) {
        fields.clear()
        sch.get("fields").forEach(f => fields +=
          org.apache.spark.sql.types.StructField(
            f.get("name").asText(), sparkType(f.get("type").asText())))
      }
    }
    require(fields.nonEmpty, s"schema-id $sid not found in metadata")
    StructType(fields.toSeq)
  }

  /** Schema `sid` as (field-id, name, type) triples — the IDENTITY
    * coordinate (spec: schemas are immutable and id-addressed; a field
    * keeps its id across renames and its id is NEVER reused after a
    * drop). Everything that keys stats or resolves source columns must
    * go through ids, not positions — positions and ids coincide only
    * until the first DROP COLUMN. */
  private def schemaFieldsById(meta: com.fasterxml.jackson.databind.JsonNode,
      sid: Int): Seq[(Int, String, org.apache.spark.sql.types.DataType)] = {
    val fields = mutable.ArrayBuffer
      .empty[(Int, String, org.apache.spark.sql.types.DataType)]
    meta.get("schemas").forEach { sch =>
      if (sch.get("schema-id").asInt() == sid) {
        fields.clear()
        sch.get("fields").forEach(f => fields +=
          ((f.get("id").asInt(), f.get("name").asText(),
            sparkType(f.get("type").asText()))))
      }
    }
    require(fields.nonEmpty, s"schema-id $sid not found in metadata")
    fields.toSeq
  }

  /** The CURRENT schema's name → field-id map. */
  private def currentFieldIds(
      meta: com.fasterxml.jackson.databind.JsonNode): Map[String, Int] =
    schemaFieldsById(meta, meta.get("current-schema-id").asInt())
      .map(f => f._2 -> f._1).toMap

  /** The current field id of `column`, by its CURRENT name. */
  private def fieldIdOf(meta: com.fasterxml.jackson.databind.JsonNode,
      column: String): Int =
    currentFieldIds(meta).getOrElse(column,
      throw new IllegalArgumentException(
        s"column $column not in the current schema"))

  /** The field ids the NEXT commit under `dfSchema` declares, in field
    * order: names already in the current schema KEEP their ids; new
    * names get fresh monotone ids above `last-column-id` (ids are never
    * reused — a re-added name after a drop is a NEW field, so pre-drop
    * files surface it as NULL instead of resurrecting old values).
    * Shared by the metadata commit and the stats writer so manifest
    * stats key exactly the ids the schema declares. */
  private def assignFieldIds(
      prevMeta: Option[com.fasterxml.jackson.databind.JsonNode],
      dfSchema: StructType): Seq[Int] = {
    val prevIds = prevMeta.map(currentFieldIds).getOrElse(Map.empty)
    var next = math.max(
      prevMeta.map(_.path("last-column-id").asInt(0)).getOrElse(0),
      if (prevIds.isEmpty) 0 else prevIds.values.max)
    dfSchema.fields.toSeq.map(f =>
      prevIds.getOrElse(f.name, { next += 1; next }))
  }

  /** The schema in force at `snapshotId` (current when < 0) — the
    * planning surface [[graft.sources.v2.GraftCatalog]] types its
    * SQL-visible scans with. */
  private[graft] def schemaAt(spark: SparkSession, table: String,
      snapshotId: Long = -1L): StructType = {
    val fs = hadoopFs(spark, table)
    val v = latestMetadataVersion(spark, table)
    require(v > 0, s"$table has no Iceberg metadata")
    val meta = readMetadata(fs, table, v)
    if (snapshotId < 0) currentSchema(meta)
    else schemaForSnapshot(meta, snapshotId)
  }

  /** Read the table at `snapshotId` (default: current) — one multi-path
    * parquet scan under the snapshot's OWN schema (files predating an
    * evolution surface added columns as NULL); pushdown/pruning/AQE
    * untouched. Format-version-2 snapshots carrying POSITION DELETES
    * (spec §Row-level deletes) are merged on read: a delete row
    * (file_path, pos) suppresses that position in every data file whose
    * data sequence number ≤ the delete file's sequence number. */
  def read(spark: SparkSession, table: String, snapshotId: Long = -1L): DataFrame =
    readLive(spark, table, snapshotId, keepMeta = false)

  /** snapshot-id → recorded schema-id, for every snapshot that carries
    * one (writers record the schema current at commit — exactly the
    * NAMES their staged parquet columns bear, since metadata-only
    * evolutions move `current-schema-id` without a snapshot). */
  private def snapshotSchemaIds(
      meta: com.fasterxml.jackson.databind.JsonNode): Map[Long, Int] = {
    val m = mutable.Map.empty[Long, Int]
    meta.get("snapshots").forEach(s =>
      if (s.has("schema-id"))
        m(s.get("snapshot-id").asLong()) = s.get("schema-id").asInt())
    m.toMap
  }

  /** True iff write-schema `wsid`'s column NAMES agree with read-schema
    * `readFields` wherever field ids are shared, AND no read-schema name
    * collides with a DIFFERENT id's column in the write schema (the
    * drop-then-re-add hazard: same name, new id — a by-name read would
    * resurrect the dropped column's values). When this holds, a plain
    * by-name scan of the file is exact. */
  private def nameIdentical(meta: com.fasterxml.jackson.databind.JsonNode,
      readFields: Seq[(Int, String, org.apache.spark.sql.types.DataType)],
      wsid: Int): Boolean = {
    val wf = schemaFieldsById(meta, wsid)
    val wById = wf.map(x => x._1 -> x._2).toMap
    val wNames = wf.map(_._2).toSet
    readFields.forall { case (id, name, _) =>
      wById.get(id) match {
        case Some(w) => w == name
        case None => !wNames.contains(name)
      }
    }
  }

  /** Scan `files` under read-schema `readSid`'s NAMES, resolving each
    * file's physical parquet columns through the schema it was WRITTEN
    * under — matched BY FIELD ID, the spec's identity rule, so renamed
    * columns keep serving from pre-rename files and a re-added name
    * never resurrects a dropped column's values. Files group by write
    * schema (one multi-path scan per NAME EPOCH — the no-rename common
    * case plans exactly today's single scan); fields absent from a
    * file's write schema surface as NULL. `withMeta` appends the
    * (__fn, __ri) position columns the delete machinery joins on. */
  private def readUnderSchemaNames(spark: SparkSession,
      meta: com.fasterxml.jackson.databind.JsonNode, readSid: Int,
      files: Seq[(String, Long)], // (absolute path, added snapshot id)
      withMeta: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val readFields = schemaFieldsById(meta, readSid)
    val readSchema = StructType(readFields.map(f =>
      org.apache.spark.sql.types.StructField(f._2, f._3)))
    val sidToSchema = snapshotSchemaIds(meta)
    def metaCols(df: DataFrame): DataFrame =
      if (!withMeta) df
      else df.withColumn("__fn", FileKey.column(col("_metadata.file_path")))
        .withColumn("__ri", col("_metadata.row_index"))
    val bySchema = files.groupBy(f => sidToSchema.getOrElse(f._2, readSid))
    if (bySchema.keys.forall(w => w == readSid ||
        nameIdentical(meta, readFields, w)))
      // FAST PATH (no live name drift): one by-name multi-path scan
      return metaCols(spark.read.schema(readSchema)
        .parquet(files.map(_._1): _*))
    // a file whose adding snapshot EXPIRED cannot prove its name epoch
    // once the table has drifted names — refuse rather than misread
    require(files.forall(f => sidToSchema.contains(f._2)),
      s"live data files predate retained history on a table with " +
        "renamed columns — IcebergLite.rewriteDataFiles first")
    val out = bySchema.toSeq.sortBy(_._1).map { case (wsid, group) =>
      val wById = schemaFieldsById(meta, wsid).map(x => x._1 -> x._2).toMap
      // physical read schema: the read fields PRESENT in this epoch,
      // under their as-written names (types from the read schema — type
      // evolution is not in this subset)
      val phys = StructType(readFields.collect {
        case (id, _, t) if wById.contains(id) =>
          org.apache.spark.sql.types.StructField(wById(id), t)
      })
      val df = metaCols(spark.read.schema(phys)
        .parquet(group.map(_._1): _*))
      df.select(readFields.map { case (id, name, t) =>
        wById.get(id) match {
          case Some(w) => col(w).as(name)
          case None => lit(null).cast(t).as(name)
        }
      } ++ (if (withMeta) Seq(col("__fn"), col("__ri")) else Nil): _*)
    }
    out.reduce(_.union(_))
  }

  /** True iff any LIVE data file was written under a schema whose
    * column names drift from the current schema (a rename or a
    * drop-then-re-add with older files still live) — the state in which
    * by-NAME scans misread and id-aware paths must serve instead.
    * Control-plane reads only; `rewriteDataFiles` clears it. */
  private[graft] def nameDrift(spark: SparkSession, table: String,
      snapshotId: Long = -1L): Boolean = {
    val fs = hadoopFs(spark, table)
    val v = latestMetadataVersion(spark, table)
    if (v <= 0) return false
    val meta = readMetadata(fs, table, v)
    val readSid =
      if (snapshotId < 0) meta.get("current-schema-id").asInt()
      else schemaIdForSnapshot(meta, snapshotId)
    val readFields = schemaFieldsById(meta, readSid)
    // metadata-only precheck: unless SOME schema in the immutable list
    // name-diverges from the current one, no file can drift — the
    // no-rename common case never walks a manifest here
    val anyDivergent = {
      var divergent = false
      meta.get("schemas").forEach { s =>
        val sid = s.get("schema-id").asInt()
        if (sid != readSid && !nameIdentical(meta, readFields, sid))
          divergent = true
      }
      divergent
    }
    if (!anyDivergent) return false
    if (meta.get("current-snapshot-id").asLong() < 0) return false
    val sidToSchema = snapshotSchemaIds(meta)
    snapshotManifestEntries(spark, table, snapshotId, content = 0)
      .map(f => sidToSchema.getOrElse(f._3, readSid)).distinct
      .exists(w => w != readSid && !nameIdentical(meta, readFields, w))
  }

  /** True iff the files ADDED at snapshot `sid` were written under
    * column names that drift from the CURRENT schema — the guard for
    * by-name incremental readers consuming a commit that predates a
    * rename (metadata-only check). */
  private[graft] def addedNamesDrift(spark: SparkSession, table: String,
      sid: Long): Boolean = {
    val fs = hadoopFs(spark, table)
    val v = latestMetadataVersion(spark, table)
    if (v <= 0) return false
    val meta = readMetadata(fs, table, v)
    val readSid = meta.get("current-schema-id").asInt()
    val w = schemaIdForSnapshot(meta, sid)
    w != readSid &&
      !nameIdentical(meta, schemaFieldsById(meta, readSid), w)
  }

  /** [[read]] with the option to RETAIN the (__fn, __ri) position columns
    * — the coordinate system [[deleteWhere]] records deletes in (`__fn`
    * is the [[FileKey]] two-component file key) — and to
    * RESTRICT the scan to a planned subset of data files (by file key):
    * the rewrite ops ([[mergeInto]]) read only the files they touch, with
    * every live delete still applied through [[MaskFilter]]. */
  private def readLive(spark: SparkSession, table: String, snapshotId: Long,
      keepMeta: Boolean,
      onlyFiles: Option[Set[String]] = None): DataFrame =
    liveScan(spark, table, snapshotId, keepMeta, onlyFiles,
      latestMetadataVersion(spark, table))._1

  /** [[readLive]] under metadata version `v`, answering also the mask it
    * applied and the (path, data sequence, added snapshot) entries it
    * scanned. */
  private def liveScan(spark: SparkSession, table: String, snapshotId: Long,
      keepMeta: Boolean, onlyFiles: Option[Set[String]], v: Int)
      : (DataFrame, MorMask, Seq[(String, Long, Long)]) = {
    val fs = hadoopFs(spark, table)
    val meta = readMetadata(fs, table, v)
    val wanted =
      if (snapshotId < 0) meta.get("current-snapshot-id").asLong() else snapshotId
    val allDataFiles = snapshotManifestEntries(spark, table, wanted,
      content = 0, metaV = v)
    val dataFiles = onlyFiles match {
      case None => allDataFiles
      case Some(names) =>
        allDataFiles.filter(f => names.contains(FileKey(f._1)))
    }
    require(dataFiles.nonEmpty, s"snapshot has no data files in $table")
    val mask = morMask(spark, table, wanted, v,
      Some(dataFiles.map(f => (f._1, f._2))))
    // head reads scan under the table's CURRENT schema (a metadata-only
    // evolution surfaces immediately); time travel under the snapshot's.
    // Files resolve their parquet column names through the schema they
    // were WRITTEN under, by field id — a renamed column keeps serving
    // from pre-rename files (one scan per name epoch; exactly one scan,
    // unchanged, for the no-rename common case).
    val readSid =
      if (snapshotId < 0) meta.get("current-schema-id").asInt()
      else schemaIdForSnapshot(meta, wanted)
    val base = readUnderSchemaNames(spark, meta, readSid,
      dataFiles.map(f => (f._1, f._3)), withMeta = !mask.isEmpty || keepMeta)
    val live =
      if (mask.isEmpty) base
      else {
        val live = MaskFilter(spark, base, mask, alive = true)
        if (keepMeta) live else live.drop("__fn", "__ri")
      }
    (live, mask, dataFiles)
  }

  /** One DELETE-manifest entry of the given kind (1 = position deletes,
    * 2 = equality deletes). */
  private def deleteEntry(table: String, snapshotId: Long, rel: String,
      len: Long, records: Long, kind: Int,
      pval: Option[String] = None): GenericRecord = {
    val schema =
      if (pval.isDefined) deleteEntrySchemaPartitioned else deleteEntrySchema
    val e = new GenericData.Record(schema)
    e.put("status", 1)
    e.put("snapshot_id", snapshotId)
    val d = new GenericData.Record(schema.getField("data_file").schema())
    d.put("file_path", s"$table/$rel")
    d.put("file_format", "PARQUET")
    val part = new GenericData.Record(schema
      .getField("data_file").schema().getField("partition").schema())
    pval.foreach(v => if (v != null) part.put("p0", v))
    d.put("partition", part)
    d.put("record_count", records)
    d.put("file_size_in_bytes", len)
    d.put("block_size_in_bytes", 64L * 1024 * 1024)
    d.put("content", kind)
    e.put("data_file", d)
    e
  }

  /** Stage matched positions as position-delete parquet and return the
    * DELETE-manifest entries + rows deleted. Unpartitioned tables stage
    * ONE (file_path, pos)-sorted file; partitioned tables stage PER
    * PARTITION VALUE (`positions` must carry `_p`, the spec transform of
    * the row's own value) with the value recorded on each entry — at
    * 100 TB a partition-restricted scan then opens only its own
    * partition's delete files. */
  private def stagePositionDeletes(spark: SparkSession, table: String,
      positions: org.apache.spark.sql.DataFrame, staged: String,
      snapshotId: Long, partitioned: Boolean)
      : (Seq[GenericRecord], Long) = {
    import org.apache.spark.sql.functions.col
    val files =
      if (!partitioned) Staging.write(table, staged,
        positions.coalesce(1).sortWithinPartitions("file_path", "pos"))
      else Staging.write(table, staged, positions, Some(col("_p")),
        sortWithin = Seq("file_path", "pos"))
    // row counts from the staged footers, not a Spark count job
    val counts = Staging.stats(spark, files)
    val n = counts.values.map(_.rows).sum
    if (n == 0) return (Seq.empty, 0L)
    (files.map(f => deleteEntry(table, snapshotId, f.rel, f.status.getLen,
      counts(f.key).rows, kind = 1, pval = Option.when(partitioned)(f.value))),
      n)
  }

  /** Row-level DELETE as an EQUALITY-DELETE commit (spec §Row-level
    * deletes, content = 2) — the v2 delete kind built for STREAMING
    * upsert/delete writers: the delete file stores column VALUES, not
    * positions, so the writer never has to locate the rows it deletes
    * (no scan at delete time — O(values) written, nothing read). Readers
    * suppress matching rows in data files with sequence STRICTLY LESS
    * than the delete's, so rows (re-)written at or after the delete's
    * snapshot survive — exactly the upsert semantics Flink/Iceberg CDC
    * writers rely on. Returns (snapshotId, valuesWritten). */
  def deleteWhereEquality(spark: SparkSession, table: String, column: String,
      values: Seq[Long]): (Long, Long) = {
    import spark.implicits._
    deleteWhereEqualityRows(spark, table,
      values.distinct.sorted.toDF(column))
  }

  /** [[deleteWhereEquality]] for COMPOSITE keys (X305) — the delete
    * tuple shape CDC writers actually produce (a Flink upsert stream
    * keys on the table's primary key, which is rarely one column):
    * `keys` is an N-column relation of deleted key tuples over any
    * subset of the table's columns; the delete file stores the tuples,
    * readers suppress a row when EVERY key column matches some tuple
    * (in data files with sequence strictly below the delete's — the
    * same gating as the single-column kind). The equality columns are
    * implied by the delete file's own parquet schema, which every
    * reader resolves per file: the BATCH read, the batch changelog,
    * the STREAMING change feed, and the SQL row-level DML masks all
    * evaluate the tuple relation under [[EqVals]]' NULL-safe rule (a
    * NULL key component matches a NULL row value). Key and table column
    * types must be integral/string/boolean; any other refuses here,
    * before anything commits. */
  def deleteWhereEqualityRows(spark: SparkSession, table: String,
      keys: DataFrame): (Long, Long) = {
    def attempt(prevV: Int): Option[(Long, Long)] = {
      val fs = hadoopFs(spark, table)
      require(prevV > 0, s"$table has no Iceberg metadata")
      val prevMeta = readMetadata(fs, table, prevV)
      val cur = prevMeta.get("current-snapshot-id").asLong()
      val schema = currentSchema(prevMeta)
      // every reader matches key tuples under EqVals' canonical types:
      // refuse a key it could not match before anything is staged
      keys.schema.fields.foreach { k =>
        require(schema.fieldNames.contains(k.name),
          s"equality column ${k.name} not in $table schema")
        val t = schema(k.name).dataType
        require(EqVals.supported(k.dataType) && EqVals.supported(t),
          s"equality column ${k.name} has key type " +
            s"${k.dataType.simpleString} and table type ${t.simpleString} " +
            "— equality deletes key on integral/string/boolean columns only")
      }
      require(keys.schema.nonEmpty, "no equality columns to delete on")
      val tuples = keys.distinct()
      val nTuples = tuples.count()
      require(nTuples > 0, "no values to delete")
      val snapshotId = prevV + 1L
      val token = java.util.UUID.randomUUID().toString.take(8)
      val staged = s"data/s$snapshotId-$token-eqdel"
      // the delete file IS the value list — no scan of the table happens
      // at delete time (the kind's whole point for a streaming writer)
      tuples.coalesce(1)
        .write.mode("errorifexists").parquet(s"$table/$staged")
      val parts = fs.listStatus(new Path(table, staged))
        .filter(_.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.getName)
      val entries = parts.toSeq.map(p => deleteEntry(table, snapshotId,
        s"$staged/${p.getPath.getName}", p.getLen,
        nTuples, kind = 2))
      val manifestName = s"$snapshotId-$token-del-m0.avro"
      val manifestLen = writeAvroFile(
        new File(new File(table, "metadata"), manifestName),
        deleteEntrySchema, entries)
      val curList = metaJsonSnapshots(prevMeta).find(_._1 == cur).get._2
      val prior = listEntries(fs, new Path(curList))
      val listName = s"snap-$snapshotId-$token.avro"
      writeManifestList(table, listName,
        prior :+ MEntry(s"$table/metadata/$manifestName", manifestLen,
          snapshotId, content = 1, seq = snapshotId),
        v2 = true)
      val committed = commitMetadataJson(fs, table, prevV, Some(prevMeta),
        formatVersion = math.max(2,
          prevMeta.path("format-version").asInt(1)), snapshotId, schema,
        partitionSpec(prevMeta), listName, "delete", Map.empty)
      if (!committed) {
        fs.delete(new Path(table, staged), true)
        fs.delete(new Path(metaDir(table), manifestName), false)
        fs.delete(new Path(metaDir(table), listName), false)
        None
      } else Some((snapshotId, nTuples))
    }
    Occ.commit("equality delete", table)(
      latestMetadataVersion(spark, table))(attempt)
  }

  /** TRUNCATE — a `delete` snapshot whose manifest list is EMPTY:
    * nothing live, zero data I/O regardless of table size. History is
    * preserved (earlier snapshots still time-travel; expiration
    * reclaims their files), and the next append starts a fresh live
    * set. Returns (snapshotId, filesRemoved). */
  def truncate(spark: SparkSession, table: String): (Long, Long) = {
    val fs = hadoopFs(spark, table)
    Occ.commit("truncate", table)(
        latestMetadataVersion(spark, table)) { prevV =>
      require(prevV > 0, s"$table has no Iceberg metadata")
      val prevMeta = readMetadata(fs, table, prevV)
      val cur = prevMeta.get("current-snapshot-id").asLong()
      val nFiles = snapshotFiles(spark, table, cur, metaV = prevV).size
      if (nFiles == 0) Some((cur, 0L))
      else {
        val snapshotId = prevV + 1L
        val token = java.util.UUID.randomUUID().toString.take(8)
        val listName = s"snap-$snapshotId-$token.avro"
        writeManifestList(table, listName, Seq.empty,
          v2 = prevMeta.path("format-version").asInt(1) >= 2)
        if (commitMetadataJson(fs, table, prevV, Some(prevMeta),
            prevMeta.path("format-version").asInt(1), snapshotId,
            currentSchema(prevMeta), partitionSpec(prevMeta), listName,
            "delete", Map.empty))
          Some((snapshotId, nFiles.toLong))
        else {
          fs.delete(new Path(metaDir(table), listName), false)
          None
        }
      }
    }
  }

  /** STICKY-UPWARD format-version upgrade (metadata-only commit; the
    * spec's upgrade path — never a downgrade). v3 unlocks DELETION
    * VECTORS ([[deleteWhereDV]]). Returns the new metadata version. */
  def upgradeFormatVersion(spark: SparkSession, table: String,
      to: Int): Int = {
    require(to == 2 || to == 3, s"format-version $to outside the subset")
    commitMetadataEdit(spark, table, "upgradeFormatVersion") { meta =>
      meta.path("format-version").asInt(1) < to && {
        meta.put("format-version", to)
        if (!meta.has("last-sequence-number"))
          meta.put("last-sequence-number",
            meta.get("current-snapshot-id").asLong().max(0L))
        true
      }
    }
  }

  /** The NEWEST deletion vector per data file among `entries` (kind 3),
    * positions deserialized — driver-bounded by the deleted-row count
    * (the DV cost model). Answers file key → (positions, vector
    * sequence). The newest-wins rule mirrors the spec's writer
    * obligation (a new DV REPLACES the file's old one and must be a
    * superset). */
  private def dvPositionsByFile(spark: SparkSession,
      entries: Seq[DeleteEntry]): Map[String, (Array[Long], Long)] = {
    val dvs = entries.collect { case e @ DeleteEntry(_, _, 3, _, Some(dv)) =>
      (e, dv) }
    if (dvs.isEmpty) return Map.empty
    // one read per Puffin file, blobs sliced by recorded offset/size
    val bytesByPath = dvs.map(_._1.path).distinct.map { p =>
      val path = new Path(p)
      val in = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .open(path)
      val buf = new java.io.ByteArrayOutputStream()
      try org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
      finally in.close()
      p -> buf.toByteArray
    }.toMap
    dvs.groupBy(_._2._1).map { case (fileKey, es) =>
      val (e, (_, off, len)) = es.maxBy(_._1.seq)
      val payload = java.util.Arrays.copyOfRange(
        bytesByPath(e.path), off.toInt, (off + len).toInt)
      fileKey -> (DeletionVectors.deserializeBitmap(payload), e.seq)
    }
  }

  /** Row-level DELETE as a v3 DELETION VECTOR (spec §Deletion vectors)
    * — position deletes move from parquet files into ONE Puffin blob
    * per affected data file (`deletion-vector-v1`: the 64-bit portable
    * RoaringBitmap layout v3 shares with Delta's DV format, which
    * [[DeletionVectors]] already implements): kilobytes written, no
    * parquet delete file, no data-file rewrite. The new vector is the
    * spec's SUPERSET: prior vector positions and still-applicable
    * parquet position-delete rows for the affected files merge in, so
    * readers apply ONLY the newest vector per file. Requires
    * format-version 3 ([[upgradeFormatVersion]]); rewriteDataFiles
    * materializes vectors away. Returns (snapshotId, newlyMasked). */
  def deleteWhereDV(spark: SparkSession, table: String, column: String,
      lo: Long, hi: Long): (Long, Long) = {
    def attempt(prevV: Int): Option[(Long, Long)] = {
      import org.apache.spark.sql.functions.col
      val fs = hadoopFs(spark, table)
      require(prevV > 0, s"$table has no Iceberg metadata")
      val prevMeta = readMetadata(fs, table, prevV)
      require(prevMeta.path("format-version").asInt(1) >= 3,
        s"deletion vectors are a format-version-3 feature — " +
          s"IcebergLite.upgradeFormatVersion($table, 3) first")
      val spec = partitionSpec(prevMeta)
      val cur = prevMeta.get("current-snapshot-id").asLong()
      val snapshotId = prevV + 1L
      // matched LIVE positions — prior masks (parquet deletes AND vectors)
      // already applied by the read, so this is exactly the NEW deletions;
      // driver-bounded by the deleted-row count (the DV cost model). On a
      // partitioned table each file also carries its rows' (constant)
      // transform value, recorded on the vector's manifest entry so a
      // partition-restricted scan loads only its own partition's vectors.
      // The scan's mask, pinned at prevV, is also the prior mask below:
      // the delete payloads load once.
      val (live, mask, dataFiles) =
        liveScan(spark, table, cur, keepMeta = true, None, prevV)
      val dataPaths = dataFiles.map(f => (FileKey(f._1), f._1)).toMap
      val matchedRows = live.where(col(column).between(lo, hi))
      val matched: Map[String, (Array[Long], String)] = (spec match {
        case None => matchedRows.select("__fn", "__ri").collect()
          .groupBy(_.getString(0))
          .map { case (fn, rows) =>
            fn -> (rows.map(_.getLong(1)), null: String) }
        case Some(pf) => matchedRows
          .select(col("__fn"), col("__ri"),
            pf.valueColumn(col(pf.source)).cast("string").as("_p"))
          .collect()
          .groupBy(_.getString(0))
          .map { case (fn, rows) =>
            fn -> (rows.map(_.getLong(1)), rows.head.getString(2)) }
      })
      if (matched.isEmpty) return Some((cur, 0L))
      val nNew = matched.values.map(_._1.length.toLong).sum
      // the SUPERSET contract: the file's new vector = prior vector ∪
      // still-applicable parquet position-delete rows ∪ new matches
      val vectors = matched.toSeq.sortBy(_._1).map { case (fn, (pos, pv)) =>
        val prior = mask.posByFile.getOrElse(fn, Array.empty[Long])
        (fn, (pos ++ prior).distinct.sorted, pv)
      }
      val token = java.util.UUID.randomUUID().toString.take(8)
      val written = Puffin.write(
        vectors.map { case (fn, pos, _) =>
          ("deletion-vector-v1", Seq.empty[Int], snapshotId, snapshotId,
            Map("referenced-data-file" -> dataPaths(fn),
              "cardinality" -> pos.length.toString),
            DeletionVectors.serializeBitmap(pos))
        },
        Map("created-by" -> "graft IcebergLite"))
      val rel = s"data/s$snapshotId-$token-dv.puffin"
      val out = fs.create(new Path(table, rel), false)
      try out.write(written.bytes) finally out.close()
      val entrySchema =
        if (spec.isDefined) deleteEntrySchemaDvPartitioned
        else deleteEntrySchemaDv
      val entries = vectors.zip(written.blobs).map { case ((fn, pos, pv), b) =>
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1)
        e.put("snapshot_id", snapshotId)
        val d = new GenericData.Record(
          entrySchema.getField("data_file").schema())
        d.put("file_path", s"$table/$rel")
        d.put("file_format", "PUFFIN")
        val part = new GenericData.Record(entrySchema
          .getField("data_file").schema().getField("partition").schema())
        if (pv != null) part.put("p0", pv)
        d.put("partition", part)
        d.put("record_count", pos.length.toLong)
        d.put("file_size_in_bytes", written.bytes.length.toLong)
        d.put("block_size_in_bytes", 64L * 1024 * 1024)
        d.put("content", 1)
        d.put("referenced_data_file", dataPaths(fn))
        d.put("content_offset", b.offset)
        d.put("content_size_in_bytes", b.length)
        e.put("data_file", d)
        e
      }
      val manifestName = s"$snapshotId-$token-dv-m0.avro"
      val manifestLen = writeAvroFile(
        new File(new File(table, "metadata"), manifestName),
        entrySchema, entries)
      val curList = metaJsonSnapshots(prevMeta).find(_._1 == cur).get._2
      val prior = listEntries(fs, new Path(curList))
      val listName = s"snap-$snapshotId-$token.avro"
      writeManifestList(table, listName,
        prior :+ MEntry(s"$table/metadata/$manifestName", manifestLen,
          snapshotId, content = 1, seq = snapshotId,
          specId = prevMeta.path("default-spec-id").asInt(0)),
        v2 = true)
      val committed = commitMetadataJson(fs, table, prevV, Some(prevMeta),
        formatVersion = prevMeta.path("format-version").asInt(1), snapshotId,
        currentSchema(prevMeta), partitionSpec(prevMeta), listName,
        "delete", Map.empty)
      if (!committed) {
        fs.delete(new Path(table, rel), false)
        fs.delete(new Path(metaDir(table), manifestName), false)
        fs.delete(new Path(metaDir(table), listName), false)
        None
      } else Some((snapshotId, nNew))
    }
    Occ.commit("DV delete", table)(
      latestMetadataVersion(spark, table))(attempt)
  }

  /** Row-level DELETE as a POSITION-DELETE commit (merge-on-read; spec
    * §Row-level deletes) — the Iceberg-v2 parity of
    * [[DeltaLite.deleteWhereDV]]: no data file is rewritten; matched live
    * positions are written as ONE (file_path, pos)-sorted parquet delete
    * file, listed by a DELETE manifest (content = 1 in the manifest-list
    * row), and committed as a new snapshot. Readers apply the deletes by
    * sequence number ([[read]]). At 100 TB this is kilobytes written to
    * delete kilobytes instead of rewriting terabytes. The table upgrades
    * to format-version 2 if still on 1 (sticky — the spec's upgrade
    * path). Positions already deleted by an earlier vector never re-match
    * (the scan is merge-on-read), so re-deleting is a counted no-op.
    * Returns (snapshotId, rowsDeleted); no commit when nothing matches. */
  def deleteWhere(spark: SparkSession, table: String, column: String,
      lo: Long, hi: Long): (Long, Long) = {
    def attempt(prevV: Int): Option[(Long, Long)] = {
      import org.apache.spark.sql.functions.{broadcast, col}
      import spark.implicits._
      val fs = hadoopFs(spark, table)
      require(prevV > 0, s"$table has no Iceberg metadata")
      val prevMeta = readMetadata(fs, table, prevV)
      val spec = partitionSpec(prevMeta)
      val cur = prevMeta.get("current-snapshot-id").asLong()
      val dataFiles = snapshotManifestFiles(spark, table, cur, content = 0)
      val snapshotId = prevV + 1L
      // matched LIVE positions (earlier deletes already applied) → the
      // spec's delete-file schema: full file_path as recorded in manifests
      // (field-id 2147483546) + pos (2147483545), sorted by (file_path, pos).
      // On a partitioned table each position also carries its row's
      // transform value so the delete files land PER PARTITION.
      val nameToPath = dataFiles
        .map { case (p, _) => (FileKey(p), p) }.toDF("__fn", "file_path")
      val matchedRows = readLive(spark, table, cur, keepMeta = true)
        .where(col(column).between(lo, hi))
      val positions = spec match {
        case None => matchedRows.select("__fn", "__ri")
          .join(broadcast(nameToPath), "__fn")
          .select(col("file_path"), col("__ri").as("pos"))
        case Some(pf) => matchedRows
          .select(col("__fn"), col("__ri"),
            pf.valueColumn(col(pf.source)).as("_p"))
          .join(broadcast(nameToPath), "__fn")
          .select(col("file_path"), col("__ri").as("pos"), col("_p"))
      }
      val token = java.util.UUID.randomUUID().toString.take(8)
      val staged = s"data/s$snapshotId-$token-del"
      // DELETE manifest — the manifest-LIST row's content = 1 marks the
      // manifest as deletes; each entry's data_file.content = 1 marks the
      // file as POSITION deletes (2 would be equality)
      val (entries, nDeleted) = stagePositionDeletes(spark, table, positions,
        staged, snapshotId, spec.isDefined)
      if (nDeleted == 0) {
        fs.delete(new Path(table, staged), true)
        return Some((cur, 0L))
      }
      val manifestName = s"$snapshotId-$token-del-m0.avro"
      val manifestLen = writeAvroFile(
        new File(new File(table, "metadata"), manifestName),
        if (spec.isDefined) deleteEntrySchemaPartitioned else deleteEntrySchema,
        entries)
      // manifest list: every prior manifest BY REFERENCE + the delete
      // manifest, content=1, sequence = this snapshot (applies to all data
      // files with sequence ≤ it — i.e. everything live right now)
      val curList = metaJsonSnapshots(prevMeta).find(_._1 == cur).get._2
      val prior = listEntries(fs, new Path(curList))
      val defaultSpecId = prevMeta.path("default-spec-id").asInt(0)
      val listName = s"snap-$snapshotId-$token.avro"
      writeManifestList(table, listName,
        prior :+ MEntry(s"$table/metadata/$manifestName", manifestLen,
          snapshotId, content = 1, seq = snapshotId, specId = defaultSpecId),
        v2 = true)
      val committed = commitMetadataJson(fs, table, prevV, Some(prevMeta),
        formatVersion = math.max(2,
          prevMeta.path("format-version").asInt(1)), snapshotId, currentSchema(prevMeta),
        partitionSpec(prevMeta), listName, "delete", Map.empty)
      if (!committed) {
        fs.delete(new Path(table, staged), true)
        fs.delete(new Path(metaDir(table), manifestName), false)
        fs.delete(new Path(metaDir(table), listName), false)
        None
      } else Some((snapshotId, nDeleted))
    }
    Occ.commit("delete", table)(
      latestMetadataVersion(spark, table))(attempt)
  }

  /** Row-level UPDATE as a MERGE-ON-READ commit — ONE snapshot carrying
    * BOTH v2 manifest kinds: a content=1 DELETE manifest masking the
    * matched rows' old positions and a content=0 data manifest adding the
    * updated rows ([[DeltaLite.updateWhere]]'s copy-on-write parity, done
    * the v2 way — iceberg.apache.org/spec §Row-level deletes). No
    * existing data file is rewritten: at 100 TB an update of k rows
    * writes O(k) bytes, not O(touched files). The pair is
    * self-consistent under the spec's sequence rules — the delete file's
    * rows reference only OLD data files, and the new data files share
    * the delete's sequence number, so the `seq(delete) ≥ seq(data)`
    * position gate can never re-mask the rows it just moved. Updates
    * STACK: a second update's positions are planned on the LIVE view, so
    * rows relocated by update 1 are re-masked at their NEW coordinates.
    * A format-version-1 table upgrades sticky to v2 on first update —
    * position deletes only exist in v2, the same documented upgrade path
    * [[deleteWhere]] takes (upstream requires the explicit upgrade DDL
    * first; this surface folds it into the operation).
    * Returns (snapshotId, rowsUpdated); nothing matched → no commit. */
  def updateWhere(spark: SparkSession, table: String, column: String,
      lo: Long, hi: Long, set: Map[String, org.apache.spark.sql.Column])
      : (Long, Long) = {
    def attempt(prevV: Int): Option[(Long, Long)] = {
      import org.apache.spark.sql.functions.{broadcast, col}
      import spark.implicits._
      val fs = hadoopFs(spark, table)
      require(prevV > 0, s"$table has no Iceberg metadata")
      val prevMeta = readMetadata(fs, table, prevV)
      val spec = partitionSpec(prevMeta)
      val cur = prevMeta.get("current-snapshot-id").asLong()
      val schema = currentSchema(prevMeta)
      require(set.keySet.subsetOf(schema.fieldNames.toSet),
        s"unknown columns in SET: ${set.keySet -- schema.fieldNames}")
      spec.foreach { pf =>
        require(!set.contains(pf.source),
          s"SET of partition source column ${pf.source} would move rows " +
            "across partitions — rewrite via mergeInto/rewriteDataFiles " +
            "instead")
      }
      val dataFiles = snapshotManifestFiles(spark, table, cur, content = 0)
      val snapshotId = prevV + 1L
      // merge-on-read matched set: earlier deletes/updates already applied,
      // so coordinates are the rows' CURRENT files
      val matched = readLive(spark, table, cur, keepMeta = true)
        .where(col(column).between(lo, hi))
        .persist()
      try {
        val rowsUpdated = matched.count()
        if (rowsUpdated == 0) return Some((cur, 0L))
        val token = java.util.UUID.randomUUID().toString.take(8)
        // (1) matched rows' old coordinates → position-delete file(s);
        // per-partition with the value on each entry when the table is
        // partitioned (delete files prune with their partition)
        val nameToPath = dataFiles
          .map { case (p, _) => (FileKey(p), p) }
          .toDF("__fn", "file_path")
        val stagedDel = s"data/s$snapshotId-$token-del"
        val positions = spec match {
          case None => matched.select("__fn", "__ri")
            .join(broadcast(nameToPath), "__fn")
            .select(col("file_path"), col("__ri").as("pos"))
          case Some(pf) => matched
            .select(col("__fn"), col("__ri"),
              pf.valueColumn(col(pf.source)).as("_p"))
            .join(broadcast(nameToPath), "__fn")
            .select(col("file_path"), col("__ri").as("pos"), col("_p"))
        }
        val (delEntries, _) = stagePositionDeletes(spark, table, positions,
          stagedDel, snapshotId, spec.isDefined)
        // (2) matched rows with assignments applied → new data files, laid
        // out per partition on a partitioned table (the update never moves
        // a row across partitions — SET of the source column refuses)
        val updated = set.foldLeft(matched.drop("__fn", "__ri")) {
          case (d, (k, expr)) => d.withColumn(k, expr)
        }.select(schema.fieldNames.map(col).toIndexedSeq: _*)
        val stagedData = s"data/s$snapshotId-$token-upd"
        val (dataManifestName, dataManifestLen) = stageData(spark, table,
          stagedData, updated, spec, snapshotId, token)
        val delManifestName = s"$snapshotId-$token-del-m0.avro"
        val delManifestLen = writeAvroFile(
          new File(new File(table, "metadata"), delManifestName),
          if (spec.isDefined) deleteEntrySchemaPartitioned
          else deleteEntrySchema,
          delEntries)
        // manifest list: every prior manifest BY REFERENCE + both new kinds
        // at this snapshot's sequence, under the current default spec
        val curList = metaJsonSnapshots(prevMeta).find(_._1 == cur).get._2
        val prior = listEntries(fs, new Path(curList))
        val defaultSpecId = prevMeta.path("default-spec-id").asInt(0)
        val listName = s"snap-$snapshotId-$token.avro"
        writeManifestList(table, listName,
          prior ++ Seq(
            MEntry(s"$table/metadata/$dataManifestName", dataManifestLen,
              snapshotId, content = 0, seq = snapshotId,
              specId = defaultSpecId),
            MEntry(s"$table/metadata/$delManifestName", delManifestLen,
              snapshotId, content = 1, seq = snapshotId,
              specId = defaultSpecId)),
          v2 = true)
        val committed = commitMetadataJson(fs, table, prevV, Some(prevMeta),
          formatVersion = math.max(2,
          prevMeta.path("format-version").asInt(1)), snapshotId, schema, spec, listName,
          "overwrite", Map.empty)
        if (!committed) {
          fs.delete(new Path(table, stagedDel), true)
          fs.delete(new Path(table, stagedData), true)
          fs.delete(new Path(metaDir(table), delManifestName), false)
          fs.delete(new Path(metaDir(table), dataManifestName), false)
          fs.delete(new Path(metaDir(table), listName), false)
          None
        } else Some((snapshotId, rowsUpdated))
      } finally matched.unpersist()
    }
    Occ.commit("update", table)(
      latestMetadataVersion(spark, table))(attempt)
  }

  /** Stage `df` under `dir` — one file per transform value per task when
    * `spec` is set — and write its data manifest ([[writeDataManifest]])
    * with the stats of the staged files. Returns (manifestName,
    * length). */
  private def stageData(spark: SparkSession, table: String, dir: String,
      df: DataFrame, spec: Option[PartField], snapshotId: Long,
      token: String, boundsColumn: Option[String] = None,
      colStats: Seq[(String, Int)] = Nil): (String, Long) = {
    val files = Staging.write(table, dir, df, spec.map(pf =>
      pf.valueColumn(org.apache.spark.sql.functions.col(pf.source))))
    val cols = StructType(
      (boundsColumn.toSeq ++ colStats.map(_._1)).map(df.schema(_)))
    writeDataManifest(table, snapshotId, token, files,
      Staging.stats(spark, files, cols), spec.isDefined, boundsColumn,
      colStats)
  }

  /** [[writeDataManifest]] over EXACTLY the files the SQL writers
    * reported (table-relative, sorted) — never a directory listing, so
    * stray files from failed attempts stay invisible to readers. With
    * `values` the entries are PARTITIONED (each file's p0 = its declared
    * value). */
  private def writeReportedManifest(spark: SparkSession, fs: FileSystem,
      table: String, addRel: Seq[String],
      values: Option[Map[String, String]], snapshotId: Long,
      token: String): (String, Long) = {
    val files = addRel.sorted.map(f => Staging.File(f,
      values.flatMap(_.get(f)).orNull, fs.getFileStatus(new Path(table, f))))
    writeDataManifest(table, snapshotId, token, files,
      Staging.stats(spark, files), values.isDefined)
  }

  /** Write ONE data manifest of ADDED entries for snapshot `snapshotId`
    * over staged `files`, in order: each file's record count from
    * `stats` ([[Staging.stats]]), its raw value as `p0` when
    * `partitioned`, and either the legacy long bounds of `boundsColumn`
    * or the spec column-stats maps (null counts, single-value binary
    * bounds) of `colStats` (column → field id). A zero-row file carries
    * record_count 0 and no column stats. Returns (manifestName,
    * length). */
  private def writeDataManifest(table: String, snapshotId: Long,
      token: String, files: Seq[Staging.File],
      stats: Map[String, FooterStats.PerFile], partitioned: Boolean,
      boundsColumn: Option[String] = None,
      colStats: Seq[(String, Int)] = Nil): (String, Long) = {
    val schema = entrySchemaFor(partitioned, boundsColumn.isDefined,
      withColStats = colStats.nonEmpty)
    val dfs = schema.getField("data_file").schema()
    def kv(field: String, pairs: Seq[(Int, Any)]) = {
      val item = dfs.getField(field).schema().getTypes.get(1).getElementType
      val arr = new java.util.ArrayList[GenericData.Record]()
      pairs.foreach { case (k, v) =>
        val rec = new GenericData.Record(item)
        rec.put("key", k)
        rec.put("value", v)
        arr.add(rec)
      }
      arr
    }
    val entries = files.map { f =>
      val pf = stats(f.key)
      val e = new GenericData.Record(schema)
      e.put("status", 1) // ADDED
      e.put("snapshot_id", snapshotId)
      val d = new GenericData.Record(dfs)
      d.put("file_path", s"$table/${f.rel}")
      d.put("file_format", "PARQUET")
      val part = new GenericData.Record(dfs.getField("partition").schema())
      if (partitioned && f.value != null) part.put("p0", f.value)
      d.put("partition", part)
      d.put("record_count", pf.rows)
      d.put("file_size_in_bytes", f.status.getLen)
      d.put("block_size_in_bytes", 64L * 1024 * 1024)
      boundsColumn.foreach { c =>
        (pf.cols(c).min, pf.cols(c).max) match {
          case (lo: java.lang.Long, hi: java.lang.Long) =>
            d.put("lower_bound", lo.longValue())
            d.put("upper_bound", hi.longValue())
          case _ => // all-NULL slice: no bounds
        }
      }
      if (colStats.nonEmpty && pf.rows > 0L) {
        val cs = colStats.map { case (c, fid) => (fid, pf.cols(c)) }
        d.put("null_value_counts",
          kv("null_value_counts", cs.map(t => (t._1, t._2.nulls: Any))))
        d.put("lower_bounds", kv("lower_bounds", cs.flatMap(t =>
          boundBytes(t._2.min, upper = false)
            .map(b => (t._1, java.nio.ByteBuffer.wrap(b): Any)))))
        d.put("upper_bounds", kv("upper_bounds", cs.flatMap(t =>
          boundBytes(t._2.max, upper = true)
            .map(b => (t._1, java.nio.ByteBuffer.wrap(b): Any)))))
      }
      e.put("data_file", d)
      e
    }
    val name = s"$snapshotId-$token-m0.avro"
    val len = writeAvroFile(new File(new File(table, "metadata"), name),
      schema, entries)
    (name, len)
  }

  /** MERGE INTO (upsert) with file-granular COPY-ON-WRITE rewrite —
    * [[DeltaLite]]-side MERGE's parity op, planned the Iceberg way: only
    * the data files that CONTAIN a matched key are rewritten (matched
    * rows replaced by their source row, survivors riding along);
    * untouched files stay referenced — at the MANIFEST grain, so a
    * manifest none of whose files are touched is carried by reference
    * verbatim, and a partially-touched manifest is re-written with its
    * surviving entries under its ORIGINAL sequence number (the spec's
    * RewriteFiles discipline — preserving sequence keeps every carried
    * position/equality delete applying to exactly the rows it applied to
    * before). Source rows with no match append as new files. Duplicate
    * source keys refuse (ambiguous MERGE, SQL semantics). A source that
    * matches nothing degrades to a plain append commit. Returns
    * (snapshotId, rowsUpdated, rowsInserted). */
  def mergeInto(spark: SparkSession, table: String, source: DataFrame,
      keyCol: String): (Long, Long, Long) = {
    def attempt(prevV: Int): Option[(Long, Long, Long)] = {
      import org.apache.spark.sql.functions.{col, collect_set, count => cnt, lit => lt}
      val fs = hadoopFs(spark, table)
      require(prevV > 0, s"$table has no Iceberg metadata")
      val prevMeta = readMetadata(fs, table, prevV)
      require(partitionSpec(prevMeta).isEmpty,
        "mergeInto on hidden-partitioned tables is outside the subset")
      val cur = prevMeta.get("current-snapshot-id").asLong()
      val schema = currentSchema(prevMeta)
      require(source.columns.toSet == schema.fieldNames.toSet,
        s"source schema ${source.columns.toSeq} != table ${schema.fieldNames.toSeq}")
      require(schema.fieldNames.contains(keyCol), s"key $keyCol not in $table")
      val src = source.select(schema.fieldNames.map(col).toIndexedSeq: _*)
        .persist()
      try {
        val nSrc = MergeSource.profile(src, keyCol, lt(true)).rows
        // unique by the profile: the key column IS the source key set
        val srcKeys = src.select(keyCol)
        val formatVersion = prevMeta.path("format-version").asInt(1)
        // match discovery: ONE pass over the live table — matched row count,
        // matched-key count, and the touched-file set (bounded by file count)
        val m = readLive(spark, table, cur, keepMeta = true)
          .select(col(keyCol), col("__fn"))
          .join(srcKeys, Seq(keyCol))
          .agg(cnt(lt(1)).as("n"),
            collect_set("__fn").as("fns"),
            org.apache.spark.sql.functions.countDistinct(col(keyCol)).as("nk"))
          .collect()(0)
        val rowsUpdated = m.getAs[Long]("n")
        val matchedKeys = m.getAs[Long]("nk")
        // the rewrite below replaces ALL matched rows of a key with the ONE
        // source row (left_anti + union) — if the TARGET holds several rows
        // for a matched key that silently shrinks the table (SQL MERGE
        // updates each matched row), so refuse the ambiguity outright, the
        // same stance taken for duplicate source keys above
        require(rowsUpdated == matchedKeys,
          s"duplicate $keyCol values among matched TARGET rows " +
            s"($rowsUpdated rows across $matchedKeys keys) — ambiguous MERGE")
        val touched = m.getAs[scala.collection.Seq[String]]("fns").toSet
        val rowsInserted = nSrc - matchedKeys
        if (touched.isEmpty) {
          // nothing matched: a plain append commit of the source
          return writeAt(spark, src, table, prevV, overwrite = false, None,
            Map.empty, None, Some("append"), formatV2 = formatVersion >= 2)
            .map(sid => (sid, 0L, rowsInserted))
        }
        val snapshotId = prevV + 1L
        val token = java.util.UUID.randomUUID().toString.take(8)
        // rewritten content for the touched files: their surviving live rows
        // (deletes applied by the scan) + every source row (matched rows'
        // replacements land here; unmatched rows are the inserts)
        val survivors = readLive(spark, table, cur, keepMeta = true,
            onlyFiles = Some(touched))
          .join(srcKeys, Seq(keyCol), "left_anti")
          .drop("__fn", "__ri")
          .select(schema.fieldNames.map(col).toIndexedSeq: _*)
        val stagedData = s"data/s$snapshotId-$token-mrg"
        val (dataManifestName, dataManifestLen) = stageData(spark, table,
          stagedData, survivors.unionByName(src), None, snapshotId, token)
        // survivor manifests: untouched → by reference; partially touched →
        // re-written with surviving entries under the ORIGINAL sequence;
        // fully touched → dropped. Delete manifests carry by reference
        // (their rows for rewritten files are inert — the file is gone).
        val curList = metaJsonSnapshots(prevMeta).find(_._1 == cur).get._2
        val written = mutable.ArrayBuffer.empty[String]
        var mIdx = 0
        val carried = listEntries(fs, new Path(curList)).flatMap { me =>
          if (me.content != 0) Some(me)
          else {
            val records = readAvroFile(fs, new Path(me.path))
            val (dropped, kept) = records.partition { r =>
              r.get("status").asInstanceOf[Int] != 2 &&
                touched.contains(FileKey(
                  r.get("data_file").asInstanceOf[GenericRecord]
                    .get("file_path").toString))
            }
            if (dropped.isEmpty) Some(me)
            else if (kept.isEmpty) None
            else {
              mIdx += 1
              val name = s"$snapshotId-$token-surv$mIdx.avro"
              val len = writeAvroFile(
                new File(new File(table, "metadata"), name),
                kept.head.getSchema, kept)
              written += name
              Some(MEntry(s"$table/metadata/$name", len, me.addedSid,
                content = 0, seq = me.seq, specId = me.specId))
            }
          }
        }
        val listName = s"snap-$snapshotId-$token.avro"
        writeManifestList(table, listName,
          carried :+ MEntry(s"$table/metadata/$dataManifestName",
            dataManifestLen, snapshotId, content = 0, seq = snapshotId),
          v2 = formatVersion >= 2)
        val committed = commitMetadataJson(fs, table, prevV, Some(prevMeta),
          formatVersion, snapshotId, schema, None, listName,
          "overwrite", Map.empty)
        if (!committed) {
          fs.delete(new Path(table, stagedData), true)
          written.foreach(n => fs.delete(new Path(metaDir(table), n), false))
          fs.delete(new Path(metaDir(table), dataManifestName), false)
          fs.delete(new Path(metaDir(table), listName), false)
          None
        } else Some((snapshotId, rowsUpdated, rowsInserted))
      } finally src.unpersist()
    }
    Occ.commit("merge", table)(
      latestMetadataVersion(spark, table))(attempt)
  }

  /** The position-delete payloads of `entries` (kind 1) as (data-file
    * key, position, delete sequence) rows — the only reader of
    * position-delete files. Each file is read on the driver with no
    * Spark job; a file whose schema is not exactly `(file_path, pos)`
    * (the spec's optional `row` column, say) falls back to a Spark read
    * of those two columns. */
  private def loadPositions(spark: SparkSession,
      entries: Seq[DeleteEntry]): Seq[(String, Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    entries.filter(_.kind == 1).flatMap { e =>
      val rows = ParquetDirect.tryReadPositions(conf, e.path).getOrElse(
        ParquetDirect.read(spark, e.path).select("file_path", "pos").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq)
      rows.map { case (fp, ri) => (FileKey(fp), ri, e.seq) }
    }
  }

  /** `deletes` applied to the data files `dataSeq` (file key → data
    * sequence): positions gated to the files they apply to, every
    * equality payload loaded through [[EqVals.load]]. */
  private def maskOf(spark: SparkSession, deletes: Seq[DeleteEntry],
      dataSeq: Map[String, Long]): MorMask = {
    if (deletes.isEmpty) return MorMask.empty
    val parquet = loadPositions(spark, deletes).collect {
      case (fn, ri, sseq) if dataSeq.get(fn).exists(_ <= sseq) => (fn, ri)
    }
    // the DV superset contract makes parquet rows for a vectored file a
    // subset of its vector, so the union is exact
    val vectors = dvPositionsByFile(spark, deletes).toSeq.flatMap {
      case (fn, (ps, dvSeq)) =>
        if (dataSeq.get(fn).exists(_ <= dvSeq)) ps.toSeq.map(fn -> _) else Nil
    }
    val posByFile = (parquet ++ vectors).groupBy(_._1).map { case (fn, rs) =>
      fn -> rs.map(_._2).distinct.sorted.toArray
    }
    val eq = deletes.filter(_.kind == 2)
      .map(e => EqVals.load(spark, e.path, e.seq))
    MorMask(posByFile, eq, dataSeq, deletes.map(_.path).toSet)
  }

  /** The [[MorMask]] of snapshot `snapshotId` (current when < 0) under
    * metadata version `metaV` (latest when <= 0). `dataFiles` are the
    * snapshot's (path, data sequence) entries when the caller has
    * already read them. */
  private[graft] def morMask(spark: SparkSession, table: String,
      snapshotId: Long, metaV: Int,
      dataFiles: Option[Seq[(String, Long)]] = None): MorMask = {
    val deletes = snapshotDeleteEntries(spark, table, snapshotId, metaV)
    if (deletes.isEmpty) MorMask.empty
    else maskOf(spark, deletes, dataFiles.getOrElse(
        snapshotManifestFiles(spark, table, snapshotId, content = 0,
          metaV = metaV))
      .map { case (p, seq) => (FileKey(p), seq) }.toMap)
  }

  /** The pieces the SQL row-level operation pins at creation — the
    * Iceberg side of [[DeltaLite.rowLevelSnapshot]]: the current
    * snapshot's live data files (absolute paths, the manifests' own
    * coordinates), the schema in force, and the MERGE-ON-READ delete
    * state ([[MorMask]]) the operation's scan applies reader-side —
    * the copy-on-write rewrite starts from LIVE rows, so position- or
    * equality-deleted rows never resurrect (X300; previously a stated
    * refusal whose remedy was a table rewrite). Partitioned tables of
    * ANY transform kind qualify — the replacement writer recomputes
    * each staged file's transform value (identity AND hidden bucket/
    * temporal/truncate), so manifest p0 pruning stays exact after SQL
    * DML. */
  private[graft] def rowLevelSnapshot(spark: SparkSession, table: String)
      : (Seq[String], StructType, MorMask) = {
    val fs = hadoopFs(spark, table)
    // ONE metadata version resolution — the file list and the MOR mask
    // both derive from it, so a commit landing mid-pin cannot produce an
    // inconsistent (files, mask) pair (r15 advice: two separate
    // latest-head reads here let a concurrent commit slip between them)
    val v = latestMetadataVersion(spark, table)
    require(v > 0, s"$table has no Iceberg metadata")
    val meta = readMetadata(fs, table, v)
    val cur = meta.get("current-snapshot-id").asLong()
    val entries = snapshotManifestEntries(spark, table, -1L, content = 0,
      metaV = v)
    // the row-level scan reads data files BY NAME (the tagged parquet
    // factory) — refuse while any live file predates a column rename
    // (remedy: rewriteDataFiles, which restages under current names)
    locally {
      val readSid = meta.get("current-schema-id").asInt()
      val readFields = schemaFieldsById(meta, readSid)
      val sidToSchema = snapshotSchemaIds(meta)
      require(entries.forall { e =>
        val w = sidToSchema.getOrElse(e._3, readSid)
        w == readSid || nameIdentical(meta, readFields, w)
      }, s"$table has live files written under since-renamed column " +
        "names — IcebergLite.rewriteDataFiles first, then retry the " +
        "SQL row-level statement")
    }
    (entries.map(_._1),
      schemaForSnapshot(meta, cur),
      morMask(spark, table, cur, v, Some(entries.map(e => (e._1, e._2)))))
  }

  /** Commit the COPY-ON-WRITE replacement the SQL row-level write path
    * staged ([[graft.sources.v2.GraftReplaceBatchWrite]]): remove the
    * absolute `removePaths`, add the table-relative staged `addRel`
    * files, ONE `overwrite` snapshot. Manifest discipline is
    * [[mergeInto]]'s RewriteFiles shape — untouched manifests carried
    * by REFERENCE, partially-touched manifests re-written with their
    * surviving entries under the ORIGINAL sequence number, fully
    * touched manifests dropped — so the commit's metadata cost is
    * O(touched manifests), never O(table). */
  private[graft] def commitReplaceFiles(spark: SparkSession, table: String,
      removePaths: Seq[String], addRel: Seq[String],
      operation: String,
      partitionValues: Map[String, String] = Map.empty,
      pinnedDeleteFiles: Option[Set[String]] = None): Long =
    Occ.commit(operation, table)(latestMetadataVersion(spark, table))(
      commitReplaceFilesAt(spark, table, removePaths, addRel, operation,
        partitionValues, pinnedDeleteFiles, _))

  /** One [[commitReplaceFiles]] attempt: conflict checks against metadata
    * version `prevV`, then the claim of `prevV + 1`. None when the head
    * moved past `prevV` — whether before the checks or after them, the
    * claim loses and the next attempt re-checks against the new head. */
  private[graft] def commitReplaceFilesAt(spark: SparkSession,
      table: String, removePaths: Seq[String], addRel: Seq[String],
      operation: String, partitionValues: Map[String, String],
      pinnedDeleteFiles: Option[Set[String]], prevV: Int): Option[Long] = {
    require(prevV > 0, s"$table has no Iceberg metadata")
    // OPTIMISTIC CONFLICT RESOLUTION: the rewrite may commit against the
    // base ONLY while every file it removes is still live there (a
    // concurrent APPEND commutes; a concurrent rewrite of our files does
    // not — the liveness require below surfaces that loudly instead of
    // dropping its effects). Checked on EVERY attempt, not just retries
    // (X304): the hazard window is pin-to-commit — a compaction landing
    // between the row-level snapshot pin and this commit would
    // otherwise be clobbered on a first-attempt CAS that sees the
    // compacted head as prev (removes match nothing, adds duplicate the
    // rewritten rows). The checks read the base itself, never a newer
    // head: a racing compaction's re-staged pre-update rows must not be
    // carried past the liveness require (the SqlConcurrencyProperties
    // UPDATE-vs-OPTIMIZE falsification).
    locally {
      val live = snapshotFiles(spark, table, -1L, metaV = prevV)
        .map(FileKey(_)).toSet
      require(removePaths.map(FileKey(_)).forall(live.contains),
        s"$operation on $table conflicts with a concurrent commit " +
          "that rewrote the same files — re-run the statement against " +
          "the new snapshot")
    }
    // MERGE-ON-READ conflict rule (X300, checked EVERY attempt — the
    // hazard is the pin-to-commit window, not just a lost CAS): the
    // rewrite re-staged its files' rows from the PINNED delete state,
    // so a delete file that landed since then and touches those rows
    // would be silently undone. A fresh POSITION delete conflicts iff
    // it references a file this commit removes; a fresh EQUALITY
    // delete always conflicts (its values may match re-staged rows —
    // the new data files' higher sequence would exempt them from a
    // delete that serialized first). Fresh deletes on untouched files
    // commute: their manifests are carried and keep applying.
    pinnedDeleteFiles.foreach { pinned =>
      val fresh = snapshotDeleteEntries(spark, table, -1L, metaV = prevV)
        .filterNot(e => pinned.contains(e.path))
      if (fresh.nonEmpty) {
        require(fresh.forall(_.kind != 2),
          s"$operation on $table conflicts with a concurrent equality " +
            "delete — re-run the statement against the new snapshot")
        // a concurrent v3 deletion vector always conflicts (the
        // rewrite was staged from the pinned mask, which lacks it)
        require(fresh.forall(_.kind != 3),
          s"$operation on $table conflicts with a concurrent deletion-" +
            "vector commit — re-run the statement against the new " +
            "snapshot")
        val removedKeys = removePaths.map(FileKey(_)).toSet
        val touched = loadPositions(spark, fresh).map(_._1).toSet
        require(touched.intersect(removedKeys).isEmpty,
          s"$operation on $table conflicts with a concurrent position " +
            "delete on a file it rewrites — re-run the statement " +
            "against the new snapshot")
      }
    }
    val fs = hadoopFs(spark, table)
    val prevMeta = readMetadata(fs, table, prevV)
    val pfOpt = partitionSpec(prevMeta)
    val defaultSpecId = prevMeta.get("default-spec-id").asInt()
    require(pfOpt.isEmpty || addRel.forall(partitionValues.contains),
      "partitioned replacement adds must each declare their partition " +
        "value")
    val cur = prevMeta.get("current-snapshot-id").asLong()
    val schema = currentSchema(prevMeta)
    val formatVersion = prevMeta.path("format-version").asInt(1)
    val snapshotId = prevV + 1L
    val token = java.util.UUID.randomUUID().toString.take(8)
    val removed = removePaths.map(FileKey(_)).toSet
    val dataManifest =
      if (addRel.isEmpty) None
      else Some(writeReportedManifest(spark, fs, table, addRel,
        pfOpt.map(_ => partitionValues), snapshotId, token))
    val curList = metaJsonSnapshots(prevMeta).find(_._1 == cur).get._2
    val written = mutable.ArrayBuffer.empty[String]
    var mIdx = 0
    val carried = listEntries(fs, new Path(curList)).flatMap { me =>
      if (me.content != 0) Some(me) // delete manifests carried whole:
        // position rows for REMOVED files are inert (scan planning joins
        // them against live files only); rows for KEPT files must keep
        // applying — the rewrite re-staged only the files it removed;
        // equality deletes keep their sequence, and the staged files'
        // HIGHER data sequence exempts re-written rows (spec §Scan
        // Planning: equality applies strictly below its own sequence)
      else {
        val records = readAvroFile(fs, new Path(me.path))
        val (dropped, kept) = records.partition { r =>
          r.get("status").asInstanceOf[Int] != 2 &&
            removed.contains(FileKey(
              r.get("data_file").asInstanceOf[GenericRecord]
                .get("file_path").toString))
        }
        if (dropped.isEmpty) Some(me)
        else if (kept.isEmpty) None
        else {
          mIdx += 1
          val name = s"$snapshotId-$token-surv$mIdx.avro"
          val len = writeAvroFile(
            new File(new File(table, "metadata"), name),
            kept.head.getSchema, kept)
          written += name
          Some(MEntry(s"$table/metadata/$name", len, me.addedSid,
            content = 0, seq = me.seq, specId = me.specId))
        }
      }
    }
    val listName = s"snap-$snapshotId-$token.avro"
    writeManifestList(table, listName,
      carried ++ dataManifest.map { case (n, len) =>
        MEntry(s"$table/metadata/$n", len, snapshotId, content = 0,
          seq = snapshotId, specId = defaultSpecId) },
      v2 = formatVersion >= 2)
    if (!commitMetadataJson(fs, table, prevV, Some(prevMeta), formatVersion,
        snapshotId, schema, pfOpt, listName, operation, Map.empty)) {
      written.foreach(n => fs.delete(new Path(metaDir(table), n), false))
      dataManifest.foreach { case (n, _) =>
        fs.delete(new Path(metaDir(table), n), false) }
      fs.delete(new Path(metaDir(table), listName), false)
      None
    } else Some(snapshotId)
  }

  /** The current snapshot id — the streaming source's offset axis. */
  private[graft] def currentSnapshotId(spark: SparkSession,
      table: String): Long = {
    val fs = hadoopFs(spark, table)
    val v = latestMetadataVersion(spark, table)
    require(v > 0, s"$table has no Iceberg metadata")
    readMetadata(fs, table, v).get("current-snapshot-id").asLong()
  }

  /** A snapshot's parent pointer (None for roots or pre-pointer
    * writers) — the branch-divergence witness after a rollback. */
  private[graft] def parentSnapshotOf(spark: SparkSession, table: String,
      snapshotId: Long): Option[Long] = {
    val fs = hadoopFs(spark, table)
    val v = latestMetadataVersion(spark, table)
    require(v > 0, s"$table has no Iceberg metadata")
    var parent: Option[Long] = None
    readMetadata(fs, table, v).get("snapshots").forEach { s =>
      if (s.get("snapshot-id").asLong() == snapshotId &&
          s.has("parent-snapshot-id"))
        parent = Some(s.get("parent-snapshot-id").asLong())
    }
    parent
  }

  /** The ids actually present in the current metadata's snapshots list,
    * in commit order (ids are assigned monotonically, so numeric order
    * IS sequence order). The streaming source needs this because the id
    * axis is monotone but NOT dense: a metadata-only commit (ALTER,
    * partition-spec evolution) consumes a metadata version without
    * producing a snapshot, leaving a gap before the next append's id. */
  private[graft] def snapshotIdList(spark: SparkSession,
      table: String): Seq[Long] = {
    val fs = hadoopFs(spark, table)
    val v = latestMetadataVersion(spark, table)
    require(v > 0, s"$table has no Iceberg metadata")
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    readMetadata(fs, table, v).get("snapshots").forEach(s =>
      out += s.get("snapshot-id").asLong())
    out.sorted.toSeq
  }

  /** Gap-tolerant single-version append diff for the streaming source:
    * an id absent from the snapshots list (a metadata-only commit's
    * version) contributes NO files instead of throwing; a present id
    * diffs against its ACTUAL predecessor snapshot, not id-1 — so a
    * checkpointed readStream survives ALTER TABLE + append instead of
    * wedging on the missing id. */
  private[graft] def addedFilesAt(spark: SparkSession, table: String,
      v: Long): Seq[String] = {
    val ids = snapshotIdList(spark, table)
    if (!ids.contains(v)) return Seq.empty
    val prev = ids.filter(_ < v)
    addedFilesBetween(spark, table, if (prev.isEmpty) -1L else prev.max, v)
  }

  /** The FILE-level append diff for the streaming source (X291): data
    * files live at snapshot `toSnap` but not at `fromSnap` (-1 = table
    * start → the whole snapshot). Refuses when `fromSnap` files have
    * disappeared by `toSnap` (a rewrite — appends-only streams cannot
    * represent it) or when the range carries merge-on-read delete
    * files. Control-plane reads only. */
  private[graft] def addedFilesBetween(spark: SparkSession, table: String,
      fromSnap: Long, toSnap: Long): Seq[String] = {
    require(snapshotDeleteFiles(spark, table, toSnap).isEmpty,
      s"$table carries merge-on-read delete files — the table stream " +
        "serves appends only; consume row-level changes via readChangelog")
    val to = snapshotFiles(spark, table, toSnap)
    if (fromSnap < 0) return to
    val from = snapshotFiles(spark, table, fromSnap).map(FileKey(_)).toSet
    val toKeys = to.map(FileKey(_)).toSet
    require(from.subsetOf(toKeys),
      s"snapshots ($fromSnap, $toSnap] replace files: the table stream " +
        "serves appends only — consume rewrites via readChangelog")
    to.filterNot(f => from.contains(FileKey(f)))
  }

  /** Exactly-once STREAMING epoch commit for the SQL
    * `writeStream.toTable` path (X286) — [[commitIdempotent]]'s
    * snapshot-summary ledger with the data plane moved into real DSv2
    * streaming writers: the staged files the epoch's SUCCEEDED writers
    * reported commit as ONE `append` snapshot whose summary carries the
    * epoch marker; a redelivered epoch finds its marker (or the
    * folded high-water property) and no-ops. The ledger is keyed PER
    * QUERY (`appId` = the streaming query's id): two queries writing the
    * same table each advance their OWN marker stream and high-water
    * property instead of sharing one — a shared ledger would make the
    * lower-epoch query silently no-op its commits and drop data. Current
    * manifests carry by reference — the commit's metadata cost is O(1)
    * manifests. */
  private[graft] def commitStreamFiles(spark: SparkSession, table: String,
      addRel: Seq[String], epochId: Long,
      appId: String = DefaultLedger,
      partitionValues: Map[String, String] = Map.empty): Long = {
    // OPTIMISTIC RETRY: an epoch append conflicts with nothing, so a
    // lost arbiter race (a concurrent query's epoch, a batch writer)
    // just re-reads the head and re-stages — the per-appId ledger check
    // re-runs each attempt so a concurrently landed replay still no-ops.
    def attempt(prevV: Int): Option[Long] = {
      val fs = hadoopFs(spark, table)
      require(prevV > 0,
        s"$table has no Iceberg metadata — CREATE TABLE through the " +
          "catalog first")
      val prevMeta = readMetadata(fs, table, prevV)
      val cur = prevMeta.get("current-snapshot-id").asLong()
      // dedup ledger half 1: the high-water mark expireSnapshots folds
      // into table properties; half 2: retained snapshots' own markers.
      // The contract is MONOTONE (micro-batch ids only grow within a
      // query), so anything at-or-below the MAX committed marker is a
      // redelivery and must no-op — an equality-only marker match would
      // re-commit a replayed id whose own marker snapshot is absent
      // (found by StreamCommitProperties)
      val hwm = prevMeta.path("properties").path(hwmKey(appId))
        .asLong(-1L)
      var found = -1L
      var maxMarker = -1L
      prevMeta.get("snapshots").forEach { s =>
        val sameLedger =
          s.get("summary").path("graft-query-id").asText(DefaultLedger) == appId
        val m = s.get("summary").path("graft-batch-id").asText("")
        if (sameLedger && m.nonEmpty) {
          maxMarker = math.max(maxMarker, m.toLong)
          if (m == epochId.toString)
            found = s.get("snapshot-id").asLong()
        }
      }
      if (found >= 0) return Some(found)
      if (epochId <= math.max(hwm, maxMarker)) return Some(cur)
      if (addRel.isEmpty) return Some(cur) // empty epoch: nothing to dedup
      // PARTITIONED tables stream too (X295): the rolling streaming
      // writers report each staged file's transform value, recorded as
      // manifest p0 so log-only pruning keeps working on streamed epochs
      val pfS = partitionSpec(prevMeta)
      require(pfS.isEmpty || addRel.forall(partitionValues.contains),
        s"$table is partitioned: streaming adds must declare their " +
          "transform values")
      val schema = currentSchema(prevMeta)
      val formatVersion = prevMeta.path("format-version").asInt(1)
      val snapshotId = prevV + 1L
      val token = java.util.UUID.randomUUID().toString.take(8)
      val (mName, mLen) = writeReportedManifest(spark, fs, table, addRel,
        pfS.map(_ => partitionValues), snapshotId, token)
      val curList = metaJsonSnapshots(prevMeta).find(_._1 == cur).get._2
      val carried = listEntries(fs, new Path(curList))
      val listName = s"snap-$snapshotId-$token.avro"
      writeManifestList(table, listName,
        carried :+ MEntry(s"$table/metadata/$mName", mLen, snapshotId,
          content = 0, seq = snapshotId,
          specId = prevMeta.get("default-spec-id").asInt()),
        v2 = formatVersion >= 2)
      if (!commitMetadataJson(fs, table, prevV, Some(prevMeta), formatVersion,
          snapshotId, schema, None, listName, "append",
          Map("graft-batch-id" -> epochId.toString,
            "graft-query-id" -> appId))) {
        fs.delete(new Path(metaDir(table), mName), false)
        fs.delete(new Path(metaDir(table), listName), false)
        None
      } else Some(snapshotId)
    }
    Occ.commit(s"streaming epoch $epochId", table)(
      latestMetadataVersion(spark, table))(attempt)
  }

  /** Static partition OVERWRITE (X289) — the Iceberg landing of
    * `INSERT OVERWRITE t PARTITION (p = 'v')`: ONE `overwrite` snapshot
    * replaces exactly the files whose transform value equals `value`
    * with the incoming frame. Manifest discipline as everywhere else —
    * untouched manifests carried by reference, partially-touched
    * rewritten with surviving entries under their ORIGINAL sequence;
    * manifests under a DIFFERENT spec than the default refuse (a
    * residual drop across specs could leak rows of the replaced
    * partition — rewriteDataFiles first). Incoming rows must ALL land
    * in the replaced partition; leaking rows refuse. */
  def replacePartition(spark: SparkSession, df: DataFrame, table: String,
      value: String): Long = {
    import org.apache.spark.sql.functions.col
    val fs = hadoopFs(spark, table)
    Occ.commit("partition overwrite", table)(
        latestMetadataVersion(spark, table)) { prevV =>
      require(prevV > 0, s"$table has no Iceberg metadata")
      val prevMeta = readMetadata(fs, table, prevV)
      val pf = partitionSpec(prevMeta).getOrElse(
        throw new IllegalArgumentException(
          s"$table is not partitioned — INSERT OVERWRITE the whole table"))
      val defaultSpecId = prevMeta.get("default-spec-id").asInt()
      val cur = prevMeta.get("current-snapshot-id").asLong()
      val schema = currentSchema(prevMeta)
      val formatVersion = prevMeta.path("format-version").asInt(1)
      val stray = df.select(pf.valueColumn(col(pf.source)).as("__pv"))
        .where(!(col("__pv") <=> value)).limit(1).collect()
      require(stray.isEmpty,
        s"INSERT OVERWRITE PARTITION ($value): incoming rows land in " +
          s"partition ${stray.headOption.map(_.get(0)).orNull} — refuse " +
          "rather than leak")
      val snapshotId = prevV + 1L
      val token = java.util.UUID.randomUUID().toString.take(8)
      val stagedRel = s"data/s$snapshotId-$token-po"
      val (mName, mLen) = stageData(spark, table, stagedRel, df, Some(pf),
        snapshotId, token)
      val curList = metaJsonSnapshots(prevMeta).find(_._1 == cur).get._2
      val written = mutable.ArrayBuffer.empty[String]
      var mIdx = 0
      val carried = listEntries(fs, new Path(curList)).flatMap { me =>
        if (me.content != 0) Some(me)
        else {
          require(me.specId == defaultSpecId,
            s"manifest ${me.path} was written under spec ${me.specId}, not " +
              s"the default $defaultSpecId — partition-grain overwrite " +
              "needs one spec; rewriteDataFiles first")
          val records = readAvroFile(fs, new Path(me.path))
          val (dropped, kept) = records.partition { r =>
            if (r.get("status").asInstanceOf[Int] == 2) false
            else {
              val part = r.get("data_file").asInstanceOf[GenericRecord]
                .get("partition").asInstanceOf[GenericRecord]
              val pv =
                if (part.getSchema.getField("p0") == null) null
                else Option(part.get("p0")).map(_.toString).orNull
              pv == value
            }
          }
          if (dropped.isEmpty) Some(me)
          else if (kept.isEmpty) None
          else {
            mIdx += 1
            val name = s"$snapshotId-$token-surv$mIdx.avro"
            val len = writeAvroFile(
              new File(new File(table, "metadata"), name),
              kept.head.getSchema, kept)
            written += name
            Some(MEntry(s"$table/metadata/$name", len, me.addedSid,
              content = 0, seq = me.seq, specId = me.specId))
          }
        }
      }
      val listName = s"snap-$snapshotId-$token.avro"
      writeManifestList(table, listName,
        carried :+ MEntry(s"$table/metadata/$mName", mLen, snapshotId,
          content = 0, seq = snapshotId, specId = defaultSpecId),
        v2 = formatVersion >= 2)
      if (commitMetadataJson(fs, table, prevV, Some(prevMeta), formatVersion,
          snapshotId, schema, Some(pf), listName, "overwrite", Map.empty))
        Some(snapshotId)
      else {
        fs.delete(new Path(table, stagedRel), true)
        written.foreach(n => fs.delete(new Path(metaDir(table), n), false))
        fs.delete(new Path(metaDir(table), mName), false)
        fs.delete(new Path(metaDir(table), listName), false)
        None
      }
    }
  }

  /** Structural Avro copy into a structurally-equal target schema —
    * fields matched by name, nested records re-wrapped (the rewrite
    * manifest's entry schema gains a top-level field; data_file
    * sub-records copy through unchanged). */
  private def copyRecord(src: GenericRecord, target: Schema): GenericRecord = {
    val out = new GenericData.Record(target)
    target.getFields.forEach { f =>
      if (src.getSchema.getField(f.name()) != null) {
        val resolved = f.schema().getType match {
          case Schema.Type.UNION => f.schema().getTypes.toArray
            .map(_.asInstanceOf[Schema])
            .find(_.getType == Schema.Type.RECORD)
          case Schema.Type.RECORD => Some(f.schema())
          case _ => None
        }
        src.get(f.name()) match {
          case r: GenericRecord if resolved.isDefined =>
            out.put(f.name(), copyRecord(r, resolved.get))
          case other => out.put(f.name(), other)
        }
      }
    }
    out
  }

  /** rewriteManifests — Iceberg's MANIFEST compaction (`CALL
    * system.rewrite_manifests`): a 100 TB table ingesting every few
    * minutes accumulates one manifest per commit, and scan PLANNING —
    * not scanning — becomes the bottleneck (thousands of small avro
    * reads per query). This op rewrites the current snapshot's DATA
    * manifests into one consolidated manifest per entry-schema shape,
    * each entry carrying its ORIGINAL sequence_number and snapshot_id
    * explicitly (the spec's entry-level inheritance fields, field-ids
    * 3/1) so sequence-gated semantics — position/equality-delete
    * applicability, re-append survival, schema-epoch resolution — are
    * byte-preserved. Delete manifests are carried untouched. METADATA-
    * ONLY: no data file is read or written; operation `replace`, rows
    * unchanged, change feeds silent. Returns
    * (snapshotId, manifestsBefore, manifestsAfter). */
  def rewriteManifests(spark: SparkSession,
      table: String): (Long, Long, Long) = {
    def attempt(prevV: Int): Option[(Long, Long, Long)] = {
      val fs = hadoopFs(spark, table)
      require(prevV > 0, s"$table has no Iceberg metadata")
      val prevMeta = readMetadata(fs, table, prevV)
      val cur = prevMeta.get("current-snapshot-id").asLong()
      val curList = metaJsonSnapshots(prevMeta).find(_._1 == cur).getOrElse(
        throw new IllegalArgumentException(
          s"current snapshot $cur not in $table metadata"))._2
      val all = listEntries(fs, new Path(curList))
      val (dataMans, deleteMans) = all.partition(_.content == 0)
      if (dataMans.size <= 1) return Some((cur, dataMans.size.toLong,
        dataMans.size.toLong))
      val snapshotId = prevV + 1L
      val token = java.util.UUID.randomUUID().toString.take(8)
      // live entries, grouped by entry-schema SHAPE (one rewritten
      // manifest per shape — appends from one writer share a shape, so
      // the common case consolidates to ONE)
      val byShape = dataMans.flatMap { m =>
        readAvroFile(fs, new Path(m.path))
          .filter(_.get("status").asInstanceOf[Int] != 2)
          .map(e => (e, entrySeqOf(e, m.seq), entrySidOf(e, m.addedSid),
            m.specId))
      }.groupBy { case (e, _, _, specId) =>
        val d = e.get("data_file").asInstanceOf[GenericRecord].getSchema
        (d.getField("content") != null, d.getField("lower_bound") != null,
          d.getField("null_value_counts") != null,
          d.getField("referenced_data_file") != null,
          d.getField("partition").schema().getFields.size() > 0, specId)
      }
      val written = mutable.ArrayBuffer.empty[String]
      val rewritten = byShape.toSeq.sortBy(_._1.toString).zipWithIndex
        .map { case (((content, bounds, stats, dvRef, part, specId),
            entries), i) =>
          val target = entrySchemaFor(partitioned = part,
            withBounds = bounds, withContent = content,
            withColStats = stats, withDvRef = dvRef, withSeq = true)
          val recs = entries.sortBy { case (e, seq, _, _) =>
            (seq, e.get("data_file").asInstanceOf[GenericRecord]
              .get("file_path").toString)
          }.map { case (e, seq, sid, _) =>
            val out = copyRecord(e, target)
            out.put("status", 0) // EXISTING — carried, not added
            out.put("snapshot_id", sid)
            out.put("sequence_number", seq)
            out
          }
          val name = s"$snapshotId-$token-rm$i.avro"
          val len = writeAvroFile(
            new File(new File(table, "metadata"), name), target, recs)
          written += name
          MEntry(s"$table/metadata/$name", len, snapshotId, content = 0,
            seq = snapshotId, specId = specId)
        }
      val listName = s"snap-$snapshotId-$token.avro"
      writeManifestList(table, listName, rewritten ++ deleteMans,
        v2 = prevMeta.path("format-version").asInt(1) >= 2)
      if (!commitMetadataJson(fs, table, prevV, Some(prevMeta),
          prevMeta.path("format-version").asInt(1), snapshotId,
          currentSchema(prevMeta), partitionSpec(prevMeta), listName,
          "replace", Map.empty)) {
        written.foreach(n => fs.delete(new Path(metaDir(table), n), false))
        fs.delete(new Path(metaDir(table), listName), false)
        None
      } else Some((snapshotId, dataMans.size.toLong, rewritten.size.toLong))
    }
    Occ.commit("rewriteManifests", table)(
      latestMetadataVersion(spark, table))(attempt)
  }

  /** rewriteDataFiles — Iceberg's compaction op ([[DeltaLite.optimize]]'s
    * parity surface): the current snapshot's files read back, bin-packed
    * to `targetFiles`, and committed as ONE new snapshot with operation
    * `replace` (the spec's name for rewrites that change bytes, not
    * rows) and a fresh manifest list. Rows byte-identical pre/post;
    * prior snapshots still time-travel until expired; incremental
    * readers refuse ranges containing the replace (no row-change
    * representation — [[readChanges]]). With `refreshStats` the
    * compaction also RE-ANCHORS any existing Puffin statistics at the
    * new snapshot ([[refreshStatistics]], X303) — otherwise the rewrite
    * is exactly the commit that silently stales them. Returns
    * (snapshotId, filesBefore, filesAfter). */
  def rewriteDataFiles(spark: SparkSession, table: String,
      targetFiles: Int = 1, refreshStats: Boolean = false)
      : (Long, Long, Long) = {
    import org.apache.spark.sql.functions.col
    val before = snapshotFiles(spark, table, -1L)
    val meta = readMetadata(hadoopFs(spark, table), table,
      latestMetadataVersion(spark, table))
    // a declared sort order turns compaction into the CLUSTERING op
    // (Iceberg's rewriteDataFiles sort strategy): range-partition by the
    // sort column, sort within files, record per-file bounds — the
    // planBounds layer then prunes surgically instead of keeping every
    // hash-spread file
    val sortCol = sortOrderColumn(meta)
    // a table carrying live position deletes compacts even under the file
    // target: the rewrite is ALSO the op that materializes deletes away
    // (read() merges them; the fresh overwrite manifest list drops the
    // delete manifests) — same contract as DeltaLite.optimize with DVs.
    // A sort-ordered table always rewrites: re-clustering IS the work.
    val liveDeletes = snapshotDeleteFiles(spark, table, -1L)
    if (before.size <= targetFiles && liveDeletes.isEmpty && sortCol.isEmpty) {
      if (refreshStats) refreshStatistics(spark, table)
      return (meta.get("current-snapshot-id").asLong(),
        before.size.toLong, before.size.toLong)
    }
    val spec = partitionSpec(meta)
    require(spec.isEmpty || sortCol.isEmpty,
      "sort-ordered compaction of a partitioned table is outside the " +
        "subset — the per-value staging re-shuffles by partition and " +
        "would discard the clustering")
    val src = read(spark, table)
    val clustered = sortCol match {
      case Some(c) if targetFiles > 1 =>
        src.repartitionByRange(targetFiles, col(c)).sortWithinPartitions(c)
      case Some(c) => src.coalesce(1).sortWithinPartitions(c)
      // partitioned: the overwrite's own per-value staging lays files
      // out by transform value (deletes materialized away per partition)
      case None if spec.isDefined => src
      case None => src.coalesce(targetFiles)
    }
    val sid = write(spark, clustered, table,
      overwrite = true, operation = Some("replace"),
      partitionField = spec,
      boundsColumn = sortCol.filter(c =>
        schemaForSnapshot(meta, meta.get("current-snapshot-id").asLong())
          .apply(c).dataType == org.apache.spark.sql.types.LongType),
      summaryProps = sortCol.map(_ =>
        "sort-order-id" -> meta.path("default-sort-order-id").asInt(0).toString)
        .toMap,
      // the rewrite replaces EXACTLY the planned snapshot's rows: refuse
      // loudly if anything committed since (X304) — a retried overwrite
      // staged from the old head would silently undo the race winner
      requireSourceSnapshot =
        Some(meta.get("current-snapshot-id").asLong()))
    if (refreshStats) refreshStatistics(spark, table)
    (sid, before.size.toLong, snapshotFiles(spark, table, sid).size.toLong)
  }

  /** Table history — one row per RETAINED snapshot off the metadata's
    * snapshot list (the Iceberg `history`/`snapshots` metadata-table
    * surface, [[DeltaLite.history]]'s parity op): operation from the
    * snapshot summary, file counts genuinely recounted from the manifest
    * layer (added = this snapshot's own manifests' live entries, total =
    * the full snapshot), and the streaming batch marker when one was
    * committed. Expired snapshots are absent — their ids identify the
    * retention cut, exactly as in Iceberg. All control-plane reads. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val fs = hadoopFs(spark, table)
    val v = latestMetadataVersion(spark, table)
    require(v > 0, s"$table has no Iceberg metadata")
    val meta = readMetadata(fs, table, v)
    val rows = mutable.ArrayBuffer.empty[(Long, String, Long, Long, Long)]
    meta.get("snapshots").forEach { s =>
      val sid = s.get("snapshot-id").asLong()
      // DATA manifests only: a delete snapshot adds a content=1 manifest
      // whose entries are delete files, not table files
      val manifests = listEntries(fs,
        new Path(s.get("manifest-list").asText())).filter(_.content == 0)
      def liveCount(own: Boolean): Long = manifests
        .filter(m => !own || m.addedSid == sid)
        .map(m => readAvroFile(fs, new Path(m.path))
          .count(_.get("status").asInstanceOf[Int] != 2).toLong).sum
      rows += ((sid,
        s.get("summary").get("operation").asText(),
        liveCount(own = true),
        liveCount(own = false),
        s.get("summary").path("graft-batch-id").asLong(-1L)))
    }
    rows.toSeq
      .toDF("snapshot_id", "operation", "n_added_files", "n_total_files",
        "batch_id")
      .orderBy("snapshot_id")
  }

  /** Iceberg METADATA TABLES (iceberg.apache.org/docs §Inspecting tables
    * — `table$snapshots` & co.): the table's own metadata surfaced
    * relationally, so the same engine that queries the data can query its
    * lineage, file inventory, and ref pointers. Kinds:
    *
    *   - `snapshots` — one row per retained snapshot (id, operation,
    *     schema-id it was written under, manifest-list name, whether it
    *     is the current head);
    *   - `manifests` — the CURRENT snapshot's manifest-list entries with
    *     per-manifest entry-status counts (added/existing/deleted)
    *     genuinely recounted from each manifest;
    *   - `files` — every live file entry reachable from the current
    *     snapshot, data AND delete manifests, with its content kind
    *     (0 data / 1 position deletes / 2 equality deletes) and the
    *     spec's record_count/file_size statistics;
    *   - `refs` — the named branch/tag pointers.
    *
    * All control-plane: the walk reads manifest METADATA (the same files
    * scan planning reads), never a data file — at 100 TB this is a few
    * KB of Avro, which is the feature's point: file inventory queries
    * cost O(manifests), not O(table). */
  def metadataTable(spark: SparkSession, table: String,
      kind: String): DataFrame = {
    import spark.implicits._
    val fs = hadoopFs(spark, table)
    val v = latestMetadataVersion(spark, table)
    require(v > 0, s"$table has no Iceberg metadata")
    val meta = readMetadata(fs, table, v)
    val currentSid = meta.get("current-snapshot-id").asLong()
    def currentList: Seq[MEntry] = {
      var list: Option[String] = None
      meta.get("snapshots").forEach { s =>
        if (s.get("snapshot-id").asLong() == currentSid)
          list = Some(s.get("manifest-list").asText())
      }
      listEntries(fs, new Path(list.getOrElse(
        throw new IllegalArgumentException(
          s"current snapshot $currentSid not in $table metadata"))))
    }
    kind match {
      case "snapshots" =>
        val rows = mutable.ArrayBuffer.empty[(Long, String, Int, String, Boolean)]
        meta.get("snapshots").forEach { s =>
          val sid = s.get("snapshot-id").asLong()
          rows += ((sid, s.get("summary").get("operation").asText(),
            s.get("schema-id").asInt(),
            new Path(s.get("manifest-list").asText()).getName,
            sid == currentSid))
        }
        rows.toSeq.toDF("snapshot_id", "operation", "schema_id",
          "manifest_list", "is_current").orderBy("snapshot_id")
      case "manifests" =>
        val rows = currentList.map { m =>
          val entries = readAvroFile(fs, new Path(m.path))
          def n(status: Int) =
            entries.count(_.get("status").asInstanceOf[Int] == status).toLong
          (new Path(m.path).getName, m.len, m.content, m.seq, m.addedSid,
            n(1), n(0), n(2))
        }
        rows.toDF("path", "length", "content", "sequence_number",
          "added_snapshot_id", "added_files_count", "existing_files_count",
          "deleted_files_count").orderBy("sequence_number", "path")
      case "files" =>
        val rows = currentList.flatMap { m =>
          readAvroFile(fs, new Path(m.path))
            .filter(_.get("status").asInstanceOf[Int] != 2)
            .map { e =>
              val df = e.get("data_file")
                .asInstanceOf[org.apache.avro.generic.GenericRecord]
              // data_file.content (field-id 134) exists only in DELETE
              // manifests; data manifests imply content 0
              val content =
                if (df.getSchema.getField("content") == null) 0
                else df.get("content").asInstanceOf[Int]
              (content, new Path(df.get("file_path").toString).getName,
                df.get("file_format").toString,
                df.get("record_count").asInstanceOf[Long],
                df.get("file_size_in_bytes").asInstanceOf[Long])
            }
        }
        rows.toDF("content", "file_path", "file_format", "record_count",
          "file_size_in_bytes").orderBy("content", "file_path")
      case "refs" =>
        val rows = mutable.ArrayBuffer.empty[(String, String, Long)]
        meta.path("refs").fields().forEachRemaining { e =>
          rows += ((e.getKey, e.getValue.get("type").asText(),
            e.getValue.get("snapshot-id").asLong()))
        }
        rows.toSeq.toDF("name", "type", "snapshot_id").orderBy("name")
      case "partitions" =>
        // `table$partitions`: per-partition file and record inventory off
        // the manifests' partition values + record_count statistics — the
        // layout-health view (skew, small-file pressure per partition)
        // that costs O(manifests) metadata, never a data-file open.
        // Unpartitioned files report a NULL partition (Iceberg's own
        // convention for evolved-in unpartitioned specs).
        val perFile = currentList.filter(_.content == 0).flatMap { m =>
          readAvroFile(fs, new Path(m.path))
            .filter(_.get("status").asInstanceOf[Int] != 2)
            .map { e =>
              val d = e.get("data_file")
                .asInstanceOf[org.apache.avro.generic.GenericRecord]
              val part = d.get("partition")
                .asInstanceOf[org.apache.avro.generic.GenericRecord]
              val pv =
                if (part.getSchema.getField("p0") == null) null
                else Option(part.get("p0")).map(_.toString).orNull
              (pv, d.get("record_count").asInstanceOf[Long])
            }
        }
        perFile.groupBy(_._1).toSeq
          .map { case (pv, fs0) =>
            (pv, fs0.size.toLong, fs0.map(_._2).sum)
          }
          .toDF("partition", "n_files", "record_count")
          .orderBy("partition")
      case "entries" =>
        // `table$entries`: one row per manifest ENTRY of the current
        // snapshot, statuses INCLUDED (0 existing / 1 added / 2 deleted
        // — `files` hides 2s; this is the audit view of what each
        // manifest physically carries and which snapshot wrote it).
        val rows = currentList.flatMap { m =>
          readAvroFile(fs, new Path(m.path)).map { e =>
            val d = e.get("data_file")
              .asInstanceOf[org.apache.avro.generic.GenericRecord]
            val content =
              if (d.getSchema.getField("content") == null) m.content
              else d.get("content").asInstanceOf[Int]
            val part = d.get("partition")
              .asInstanceOf[org.apache.avro.generic.GenericRecord]
            val pv =
              if (part == null || part.getSchema.getField("p0") == null) null
              else Option(part.get("p0")).map(_.toString).orNull
            (e.get("status").asInstanceOf[Int], entrySidOf(e, m.addedSid),
              entrySeqOf(e, m.seq), content,
              new Path(d.get("file_path").toString).getName,
              d.get("file_format").toString,
              d.get("record_count").asInstanceOf[Long], pv)
          }
        }
        rows.toDF("status", "snapshot_id", "sequence_number", "content",
          "file_path", "file_format", "record_count", "partition")
          .orderBy("sequence_number", "content", "file_path", "status",
            "partition")
      case "all_manifests" =>
        // `table$all_manifests`: the manifests view widened across ALL
        // retained snapshots (one row per snapshot × manifest-list
        // entry, reference_snapshot_id attributing the walk). Control-
        // plane-sized: retained snapshots × their list rows — no
        // manifest needs opening beyond the lists themselves.
        val rows = metaJsonSnapshots(meta).flatMap { case (sid, list) =>
          listEntries(fs, new Path(list)).map { m =>
            (sid, new Path(m.path).getName, m.len, m.content, m.seq,
              m.addedSid)
          }
        }
        rows.toDF("reference_snapshot_id", "path", "length", "content",
          "sequence_number", "added_snapshot_id")
          .orderBy("reference_snapshot_id", "sequence_number", "path")
      case "all_files" =>
        // `table$all_files`: every data/delete file LIVE in any retained
        // snapshot, deduped — the time-travel-wide inventory (what a
        // GC/audit sweep must treat as referenced; expireSnapshots'
        // delete set is exactly live(current) subtracted from this).
        val rows = metaJsonSnapshots(meta).flatMap { case (_, list) =>
          listEntries(fs, new Path(list)).flatMap { m =>
            readAvroFile(fs, new Path(m.path))
              .filter(_.get("status").asInstanceOf[Int] != 2)
              .map { e =>
                val d = e.get("data_file")
                  .asInstanceOf[org.apache.avro.generic.GenericRecord]
                val content =
                  if (d.getSchema.getField("content") == null) m.content
                  else d.get("content").asInstanceOf[Int]
                (content, new Path(d.get("file_path").toString).getName,
                  d.get("file_format").toString,
                  d.get("record_count").asInstanceOf[Long],
                  d.get("file_size_in_bytes").asInstanceOf[Long])
              }
          }
        }.distinct
        rows.toDF("content", "file_path", "file_format", "record_count",
          "file_size_in_bytes").orderBy("content", "file_path")
      case other => throw new IllegalArgumentException(
        s"unknown metadata table '$other' (snapshots | manifests | " +
          "files | refs | partitions | entries | all_manifests | " +
          "all_files)")
    }
  }
}
