package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

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
  *   - `metadata/v<N>.metadata.json` — table metadata (Jackson): schemas
  *     with Iceberg field ids, partition specs, snapshot list, refs,
  *     current snapshot pointer; a new metadata version is claimed by
  *     ATOMIC CREATE ([[claimMetadata]] — Iceberg's HadoopCatalog commits
  *     exactly this way, via rename-if-absent).
  *   - `metadata/snap-<id>-<token>.avro` — the snapshot's MANIFEST LIST
  *     (bundled Avro; spec field-ids 500-503, plus 515/517 from v2): one
  *     row per manifest, so a reader plans a snapshot from one small file.
  *   - `metadata/<id>-<token>-….avro` — MANIFESTs (`-m0` data, `-del-m0`
  *     and `-dv-m0` deletes, `-surv<i>` and `-rm<i>` rewrites):
  *     `manifest_entry` records (status + nested `data_file` struct, spec
  *     field-ids 100-105) — one row per file with record count and size,
  *     the statistics layer file pruning hangs off.
  *
  * The CODEC is one decoder per layer and one writer per commit: [[head]]
  * decodes a metadata version once into a [[Meta]] that every op pins per
  * [[Occ.commit]] attempt (snapshots, refs, schemas, specs, sort order,
  * properties — and the manifest lists and manifests it names, each
  * decoded once: [[listEntries]] → [[MEntry]], [[decodeEntries]] →
  * [[Entry]], with the spec's inheritance rules applied in that one
  * place); [[writeManifest]] is the one entry encoder, its schema built
  * from the entries' optional field groups ([[Opt]]); every data and
  * delete snapshot commits through [[commitSnapshot]] (list, metadata
  * copy plus the new snapshot, claim, cleanup on a lost claim) and every
  * metadata-only change through [[commitMetadataEdit]].
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
  * metadata version.
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

  private def newToken(): String = java.util.UUID.randomUUID().toString.take(8)

  // ---- the codec: one decoder per metadata layer (metadata JSON →
  // [[Meta]], manifest list → [[MEntry]], manifest → [[Entry]]), one
  // entry encoder ([[writeManifest]]) and one snapshot commit
  // ([[commitSnapshot]]) --------------------------------------------------

  /** One snapshot of the metadata JSON's `snapshots` list. */
  private[graft] final case class Snap(id: Long, parent: Option[Long],
      timestampMs: Long, summary: Map[String, String], manifestList: String,
      schemaId: Option[Int]) {
    def operation: String = summary("operation")
  }

  /** A schema field: (field id, name, type). */
  private type Field = (Int, String, org.apache.spark.sql.types.DataType)

  /** Metadata version `version` of `table`, decoded once — the state every
    * op pins per [[Occ.commit]] attempt and hands to everything below it.
    * `json` is the raw tree a commit copies and edits. The manifest lists
    * and manifests it names decode through [[manifests]] and [[entries]],
    * each file at most once per `Meta` (they are immutable). Version 0 is
    * a table with no metadata yet. */
  private[graft] final class Meta(val fs: FileSystem, val table: String,
      val version: Int, val json: ObjectNode) {
    val formatVersion: Int = json.path("format-version").asInt(1)
    val currentSid: Long = json.path("current-snapshot-id").asLong(-1L)
    val currentSchemaId: Int = json.path("current-schema-id").asInt(-1)
    val defaultSpecId: Int = json.path("default-spec-id").asInt(0)
    val lastColumnId: Int = json.path("last-column-id").asInt(0)
    /** The id the next snapshot commit takes. */
    def nextSid: Long = version + 1L

    val snapshots: Seq[Snap] = json.path("snapshots").asScala.toSeq.map { s =>
      Snap(s.get("snapshot-id").asLong(),
        Option(s.get("parent-snapshot-id")).map(_.asLong()),
        s.path("timestamp-ms").asLong(0L),
        s.path("summary").properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap,
        s.get("manifest-list").asText(),
        Option(s.get("schema-id")).map(_.asInt()))
    }
    private lazy val byId: Map[Long, Snap] = snapshots.map(s => s.id -> s).toMap
    def has(sid: Long): Boolean = byId.contains(sid)

    /** Named refs: name → (snapshot id, `branch` | `tag`). */
    val refs: Map[String, (Long, String)] = json.path("refs").properties()
      .asScala.map(e => e.getKey ->
        ((e.getValue.get("snapshot-id").asLong(),
          e.getValue.path("type").asText())))
      .toMap
    val properties: Map[String, String] = json.path("properties").properties()
      .asScala.map(e => e.getKey -> e.getValue.asText()).toMap

    /** Snapshot `sid` (the current one when < 0). */
    def snap(sid: Long): Snap = {
      val want = if (sid < 0) currentSid else sid
      byId.getOrElse(want, throw new IllegalArgumentException(
        s"snapshot $want not in $table metadata v$version"))
    }

    /** The snapshot a state diff of `sid` runs against: its recorded
      * parent, else the nearest lower snapshot id (ids are this writer's
      * monotone commit order); None on the table-creating snapshot. A
      * parent expired out from under `sid` refuses: `reader` cannot
      * reconstruct the diff. */
    def parentOf(sid: Long, reader: String): Option[Long] = {
      val parent = snap(sid).parent
        .orElse(snapshots.map(_.id).filter(_ < sid).maxOption)
      parent.foreach(p => require(has(p),
        s"parent snapshot $p of $sid expired from $table: $reader " +
          "cannot reconstruct the state diff"))
      parent
    }

    /** The head a commit stacks on: the branch's head, or main's when the
      * branch does not exist yet (or no branch is named). */
    def branchHead(toBranch: Option[String]): Long =
      toBranch.flatMap(refs.get).map(_._1).getOrElse(currentSid)

    /** Schemas by id, as (field id, name, type) — the IDENTITY coordinate
      * (spec: schemas are immutable and id-addressed; a field keeps its id
      * across renames and its id is NEVER reused after a drop). Everything
      * that keys stats or resolves source columns goes through ids, not
      * positions — they coincide only until the first DROP COLUMN. */
    lazy val schemas: Map[Int, Seq[Field]] =
      json.path("schemas").asScala.toSeq.map { s =>
        s.get("schema-id").asInt() -> s.get("fields").asScala.toSeq.map(f =>
          (f.get("id").asInt(), f.get("name").asText(),
            sparkType(f.get("type").asText())): Field)
      }.toMap

    def fields(schemaId: Int): Seq[Field] = schemas.getOrElse(schemaId,
      throw new IllegalArgumentException(
        s"schema-id $schemaId not found in metadata"))

    def schema(schemaId: Int): StructType = StructType(fields(schemaId).map(
      f => org.apache.spark.sql.types.StructField(f._2, f._3)))

    /** The table's CURRENT schema — what head reads scan under (Iceberg's
      * rule: scans use the table schema; time travel uses the snapshot's
      * own). A metadata-only evolution ([[addColumn]]) can move it past
      * the head snapshot's recorded schema-id. */
    def currentSchema: StructType = schema(currentSchemaId)

    /** The schema-id a snapshot was written under — current when the
      * snapshot predates recorded schema-ids or is unknown. */
    def schemaIdAt(sid: Long): Int =
      byId.get(sid).flatMap(_.schemaId).getOrElse(currentSchemaId)

    /** The schema a snapshot was written under — Iceberg's time-travel
      * contract: a historical read uses the schema of its own snapshot. */
    def schemaAt(sid: Long): StructType = schema(schemaIdAt(sid))

    /** snapshot-id → recorded schema-id, for every snapshot that carries
      * one (writers record the schema current at commit — exactly the
      * NAMES their staged parquet columns bear, since metadata-only
      * evolutions move `current-schema-id` without a snapshot). */
    lazy val snapshotSchemaIds: Map[Long, Int] =
      snapshots.flatMap(s => s.schemaId.map(s.id -> _)).toMap

    /** The CURRENT schema's name → field-id map (empty before the first
      * commit). */
    lazy val currentFieldIds: Map[String, Int] = schemas.get(currentSchemaId)
      .fold(Map.empty[String, Int])(_.map(f => f._2 -> f._1).toMap)

    /** The current field id of `column`, by its CURRENT name. */
    def fieldIdOf(column: String): Int = currentFieldIds.getOrElse(column,
      throw new IllegalArgumentException(
        s"column $column not in the current schema"))

    /** The field ids the NEXT commit under `schema` declares, in field
      * order: names already in the current schema KEEP their ids; new
      * names get fresh monotone ids above `last-column-id` (ids are never
      * reused — a re-added name after a drop is a NEW field, so pre-drop
      * files surface it as NULL instead of resurrecting old values).
      * Shared by the snapshot commit and the stats writer so manifest
      * stats key exactly the ids the schema declares. */
    def assignFieldIds(schema: StructType): Seq[Int] = {
      var next = (lastColumnId +: currentFieldIds.values.toSeq).max
      schema.fields.toSeq.map(f =>
        currentFieldIds.getOrElse(f.name, { next += 1; next }))
    }

    /** True iff write-schema `wsid`'s column NAMES agree with read-schema
      * `readFields` wherever field ids are shared, AND no read-schema name
      * collides with a DIFFERENT id's column in the write schema (the
      * drop-then-re-add hazard: same name, new id — a by-name read would
      * resurrect the dropped column's values). When this holds, a plain
      * by-name scan of the file is exact. */
    def nameIdentical(readFields: Seq[Field], wsid: Int): Boolean = {
      val wf = fields(wsid)
      val wById = wf.map(x => x._1 -> x._2).toMap
      val wNames = wf.map(_._2).toSet
      readFields.forall { case (id, name, _) =>
        wById.get(id) match {
          case Some(w) => w == name
          case None => !wNames.contains(name)
        }
      }
    }

    /** True iff any of `files` was written under a schema whose column
      * NAMES drift from read-schema `readSid`'s — the state in which a
      * by-name scan of them misreads. */
    def namesDrift(files: Seq[Entry], readSid: Int = currentSchemaId)
        : Boolean = {
      val readFields = fields(readSid)
      files.map(e => snapshotSchemaIds.getOrElse(e.snapshotId, readSid))
        .distinct.exists(w => w != readSid && !nameIdentical(readFields, w))
    }

    /** Every spec in the immutable id-addressed list, id → the declared
      * field (None for an unpartitioned spec) — the per-manifest
      * evaluation table [[planPartitioned]] prunes with after a spec
      * evolution. A source-id resolves through the current schema BY
      * FIELD ID (stable across renames; a dropped partition source column
      * is refused at drop time, so live specs always resolve). */
    lazy val specs: Map[Int, Option[PartField]] = {
      val idToName = fields(currentSchemaId).map(f => f._1 -> f._2).toMap
      json.path("partition-specs").asScala.toSeq.map { s =>
        s.get("spec-id").asInt() -> s.get("fields").asScala.toSeq.map { f =>
          val sid = f.get("source-id").asInt()
          require(idToName.contains(sid),
            s"partition source-id $sid outside the schema")
          PartField(idToName(sid), f.get("transform").asText())
        }.lastOption
      }.toMap
    }

    /** The default partition spec (None = unpartitioned). */
    def partitionSpec: Option[PartField] = specs(defaultSpecId)

    /** The default sort order's column, None when unsorted (order 0 or no
      * declaration) — resolved through the current schema by field id. */
    def sortOrderColumn: Option[String] = {
      val wanted = json.path("default-sort-order-id").asInt(0)
      json.path("sort-orders").asScala
        .find(o => wanted != 0 && o.get("order-id").asInt() == wanted)
        .flatMap(_.get("fields").asScala.lastOption)
        .map { f =>
          val sid = f.get("source-id").asInt()
          fields(currentSchemaId).find(_._1 == sid).map(_._2)
            .getOrElse(throw new IllegalArgumentException(
              s"sort-order source-id $sid not in the current schema"))
        }
    }

    private val lists = scala.collection.concurrent.TrieMap
      .empty[String, Seq[MEntry]]
    // keyed by the whole list row: its inherited coordinates decode the
    // entries, not just the manifest path
    private val manifestEntries = scala.collection.concurrent.TrieMap
      .empty[MEntry, Seq[Entry]]

    /** The manifest list at `path`, decoded once. */
    def listAt(path: String): Seq[MEntry] =
      lists.getOrElseUpdate(path, listEntries(fs, new Path(path)))

    /** Snapshot `sid`'s manifest-list rows (current when < 0). */
    def manifests(sid: Long): Seq[MEntry] = listAt(snap(sid).manifestList)

    /** Every entry of manifest `m`, statuses included, decoded once. */
    def entries(m: MEntry): Seq[Entry] =
      manifestEntries.getOrElseUpdate(m, decodeEntries(fs, m))

    /** The live entries (status != DELETED) of snapshot `sid`'s manifests
      * of list content `content` (0 data, 1 deletes). */
    def live(sid: Long, content: Int): Seq[Entry] =
      manifests(sid).filter(_.content == content)
        .flatMap(entries).filter(_.status != 2)
  }

  /** The pinned head: metadata version `v` of `table` (the newest when
    * `v` <= 0), which must exist. */
  private[graft] def head(spark: SparkSession, table: String,
      v: Int = -1): Meta = {
    val m = headOrEmpty(spark, table, v)
    require(m.version > 0, s"$table has no Iceberg metadata")
    m
  }

  /** The one metadata decoder: [[head]], or the empty state (version 0)
    * of a table with no metadata yet — what table-creating commits pin. */
  private def headOrEmpty(spark: SparkSession, table: String,
      v: Int = -1): Meta = {
    val fs = hadoopFs(spark, table)
    val version = if (v > 0) v else latestMetadataVersion(spark, table)
    if (version <= 0) new Meta(fs, table, 0, mapper.createObjectNode())
    else {
      val in = fs.open(metaFile(table, version))
      val json = try mapper.readTree(in) finally in.close()
      new Meta(fs, table, version, json.asInstanceOf[ObjectNode])
    }
  }

  /** The metadata a table's first commit starts from: format version 1,
    * no schema yet, spec 0 declaring `partitionField` over `schema`'s
    * 1-based field positions (the ids the first commit assigns). */
  private def seed(empty: Meta, schema: StructType,
      partitionField: Option[PartField]): Meta = {
    val json = mapper.createObjectNode()
    json.put("format-version", 1)
    json.put("table-uuid", java.util.UUID.randomUUID().toString)
    json.put("location", empty.table)
    json.put("last-updated-ms", 0L)
    json.put("last-column-id", 0)
    json.putArray("schemas")
    json.putArray("partition-spec")
    val spec0 = json.putArray("partition-specs").addObject()
    spec0.put("spec-id", 0)
    val specFields = spec0.putArray("fields")
    partitionField.foreach(f => specFields.addObject()
      .put("name", f.fieldName).put("transform", f.transform)
      .put("source-id", schema.fieldNames.indexOf(f.source) + 1)
      .put("field-id", 1000))
    json.put("default-spec-id", 0)
    json.put("last-partition-id", if (partitionField.isDefined) 1000 else 999)
    json.putObject("properties")
    json.putArray("snapshots")
    json.putObject("refs")
    json.putArray("snapshot-log")
    json.putArray("metadata-log")
    new Meta(empty.fs, empty.table, 0, json)
  }

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
  private[graft] final case class MEntry(path: String, len: Long,
      addedSid: Long, content: Int, seq: Long, specId: Int)

  /** The one manifest-list decoder. */
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
    * is format-version 2 or later (so v1 tables keep byte-stable v1
    * lists). */
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

  /** The optional field groups of a manifest-entry schema, in schema
    * order; the entries of one manifest share one set:
    *   - `EntrySeq`: the entry-level sequence_number (field-id 3), which
    *     a manifest REWRITE ([[rewriteManifests]]) carries explicitly —
    *     readers prefer it over the list row's;
    *   - `P0`: the partition struct's one `p0` field (field-id 1000) —
    *     the manifest row is where partition values live, which makes
    *     manifest-level pruning possible without opening a data file;
    *   - `Bounds`: legacy single-column long bounds (field-ids 125/128);
    *   - `ColStats`: the spec's column-statistics maps — null_value_counts
    *     (110, k121/v122) and lower_bounds/upper_bounds (125/128,
    *     k126/v127 & k129/v130) as field-id-keyed entry lists with
    *     single-value binary bounds ([[boundBytes]]); exclusive with
    *     `Bounds`, which shares their field ids;
    *   - `Content`: data_file.content (field-id 134: 1 position deletes,
    *     2 equality deletes), written in DELETE manifests;
    *   - `Dv`: the v3 deletion-vector reference (field-ids 143/144/145):
    *     referenced_data_file names the ONE data file the vector masks,
    *     content_offset/size locate its blob in the Puffin file. */
  private[graft] object Opt extends Enumeration {
    val EntrySeq, P0, Bounds, ColStats, Content, Dv = Value
  }

  /** The spec column-statistics maps of one entry, keyed by field id. */
  private[graft] final case class ColStats(nulls: Seq[(Int, Long)],
      lower: Seq[(Int, Array[Byte])], upper: Seq[(Int, Array[Byte])])

  /** One manifest entry, decoded once ([[decodeEntries]]) with the
    * spec's inheritance already applied: `snapshotId` and `seq` (the data
    * sequence number) fall back to the list row's when the entry leaves
    * them null or absent, and `content` to the list row's content when the
    * entry has no field 134 — so a data manifest's entries read 0 and a
    * delete manifest's read 1 unless they say otherwise. `partition` is
    * the raw `p0` value (null = the null partition, or no partition
    * field). `opts` records which optional field groups the entry's
    * schema has, so a rewrite re-encodes it in its own shape. */
  private[graft] final case class Entry(status: Int, snapshotId: Long,
      seq: Long, path: String, format: String, content: Int, records: Long,
      size: Long, opts: Opt.ValueSet, partition: String = null,
      bounds: Option[(Long, Long)] = None,
      colStats: Option[ColStats] = None,
      dvRef: Option[(String, Long, Long)] = None) {
    /** 0 data, 1 position deletes, 2 equality deletes, 3 a v3 DELETION
      * VECTOR — a content=1 entry naming a referenced data file, whose
      * carrier is a Puffin blob, NOT parquet (kind 3 so no consumer
      * parquet-reads it by accident). */
    def kind: Int = if (dvRef.isDefined) 3 else content
    /** A vector's (referenced data-file key, blob offset, blob size). */
    def dv: Option[(String, Long, Long)] =
      dvRef.map { case (r, off, len) => (FileKey(r), off, len) }
  }

  private[graft] object Entry {
    /** An entry the next snapshot of `head` ADDS. */
    def added(head: Meta, path: String, format: String, content: Int,
        records: Long, size: Long, opts: Opt.ValueSet): Entry =
      Entry(1, head.nextSid, head.nextSid, path, format, content, records,
        size, opts)
  }

  /** The field groups whose flag is set. */
  private def optsOf(flags: (Opt.Value, Boolean)*): Opt.ValueSet =
    Opt.ValueSet(flags.collect { case (o, true) => o }: _*)

  /** The one manifest decoder: every entry of the manifest list row `m`.
    * Field presence is checked on the writer schema — Avro >= 1.9 throws
    * on `get` of an absent field. */
  private def decodeEntries(fs: FileSystem, m: MEntry): Seq[Entry] =
    readAvroFile(fs, new Path(m.path)).map { e =>
      val d = e.get("data_file").asInstanceOf[GenericRecord]
      val part = d.get("partition").asInstanceOf[GenericRecord]
      def has(r: GenericRecord, f: String) = r.getSchema.getField(f) != null
      def opt(r: GenericRecord, f: String): Option[AnyRef] =
        if (has(r, f)) Option(r.get(f)) else None
      def long(r: GenericRecord, f: String): Option[Long] =
        opt(r, f).map(_.asInstanceOf[Long])
      def pairs[T](f: String)(v: AnyRef => T): Seq[(Int, T)] =
        opt(d, f).toSeq.flatMap(_.asInstanceOf[java.util.List[_]].asScala
          .map { r0 =>
            val r = r0.asInstanceOf[GenericRecord]
            (r.get("key").asInstanceOf[Int], v(r.get("value")))
          })
      def bytes(v: AnyRef): Array[Byte] = v match {
        case bb: java.nio.ByteBuffer =>
          val b = new Array[Byte](bb.remaining()); bb.duplicate().get(b); b
        case a: Array[Byte] => a
      }
      val opts = optsOf(Opt.EntrySeq -> has(e, "sequence_number"),
        Opt.P0 -> has(part, "p0"), Opt.Bounds -> has(d, "lower_bound"),
        Opt.ColStats -> has(d, "null_value_counts"),
        Opt.Content -> has(d, "content"),
        Opt.Dv -> has(d, "referenced_data_file"))
      Entry(
        status = e.get("status").asInstanceOf[Int],
        snapshotId = long(e, "snapshot_id").getOrElse(m.addedSid),
        seq = long(e, "sequence_number").getOrElse(m.seq),
        path = d.get("file_path").toString,
        format = d.get("file_format").toString,
        content = opt(d, "content").map(_.asInstanceOf[Int])
          .getOrElse(m.content),
        records = d.get("record_count").asInstanceOf[Long],
        size = d.get("file_size_in_bytes").asInstanceOf[Long],
        opts = opts,
        partition = opt(part, "p0").map(_.toString).orNull,
        bounds = for (lo <- long(d, "lower_bound");
          hi <- long(d, "upper_bound")) yield (lo, hi),
        colStats = opt(d, "null_value_counts").map(_ => ColStats(
          pairs("null_value_counts")(_.asInstanceOf[Long]),
          pairs("lower_bounds")(bytes), pairs("upper_bounds")(bytes))),
        dvRef = opt(d, "referenced_data_file").map(r => (r.toString,
          d.get("content_offset").asInstanceOf[Long],
          d.get("content_size_in_bytes").asInstanceOf[Long])))
    }

  private val entrySchemas = scala.collection.concurrent.TrieMap
    .empty[Opt.ValueSet, Schema]

  /** The manifest-entry Avro schema of field groups `opts`: status,
    * snapshot id and the nested data_file with the required v1 fields
    * (100-105), plus the optional groups in [[Opt]] order. */
  private def entrySchema(opts: Opt.ValueSet): Schema =
    entrySchemas.getOrElseUpdate(opts, {
      require(!(opts(Opt.Bounds) && opts(Opt.ColStats)),
        "legacy single-column bounds and spec column-stats maps are " +
          "mutually exclusive manifest layouts")
      def when(o: Opt.Value)(s: String) = if (opts(o)) s else ""
      def kv(name: String, id: Int, k: Int, v: Int, t: String) =
        s""",{"name":"$name","type":["null",{"type":"array","items":{
           |  "type":"record","name":"k${k}_v$v","fields":[
           |    {"name":"key","type":"int","field-id":$k},
           |    {"name":"value","type":"$t","field-id":$v}]}}],
           |  "default":null,"field-id":$id}""".stripMargin
      new Schema.Parser().parse(
        s"""{"type":"record","name":"manifest_entry","fields":[
           |  {"name":"status","type":"int","field-id":0},
           |  {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
           |  ${when(Opt.EntrySeq)("""{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},""")}
           |  {"name":"data_file","field-id":2,"type":{
           |    "type":"record","name":"r2","fields":[
           |      {"name":"file_path","type":"string","field-id":100},
           |      {"name":"file_format","type":"string","field-id":101},
           |      {"name":"partition","field-id":102,
           |        "type":{"type":"record","name":"r102","fields":[${when(Opt.P0)("""{"name":"p0","type":["null","string"],"default":null,"field-id":1000}""")}]}},
           |      {"name":"record_count","type":"long","field-id":103},
           |      {"name":"file_size_in_bytes","type":"long","field-id":104},
           |      {"name":"block_size_in_bytes","type":"long","field-id":105}${
          when(Opt.Bounds)(""",{"name":"lower_bound","type":["null","long"],"default":null,"field-id":125},{"name":"upper_bound","type":["null","long"],"default":null,"field-id":128}""")}${
          when(Opt.ColStats)(kv("null_value_counts", 110, 121, 122, "long") +
            kv("lower_bounds", 125, 126, 127, "bytes") +
            kv("upper_bounds", 128, 129, 130, "bytes"))}${
          when(Opt.Content)(""",{"name":"content","type":"int","default":0,"field-id":134}""")}${
          when(Opt.Dv)(""",{"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},{"name":"content_offset","type":["null","long"],"default":null,"field-id":144},{"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}""")}
           |  ]}}
           |]}""".stripMargin)
    })

  /** The one manifest encoder: write `entries` as manifest `name` under
    * the entry schema of `opts`, and answer its list row — added by the
    * next snapshot of `head`, at that snapshot's sequence, under the
    * default spec (a rewrite of a carried manifest copies the carried
    * row's coordinates over). */
  private def writeManifest(head: Meta, name: String, opts: Opt.ValueSet,
      entries: Seq[Entry], content: Int = 0): MEntry = {
    val schema = entrySchema(opts)
    val dfs = schema.getField("data_file").schema()
    def kv[T](field: String, pairs: Seq[(Int, T)])(v: T => Any) = {
      val item = dfs.getField(field).schema().getTypes.get(1).getElementType
      val arr = new java.util.ArrayList[GenericData.Record]()
      pairs.foreach { case (k, x) =>
        val rec = new GenericData.Record(item)
        rec.put("key", k)
        rec.put("value", v(x))
        arr.add(rec)
      }
      arr
    }
    val records = entries.map { e =>
      val r = new GenericData.Record(schema)
      r.put("status", e.status)
      r.put("snapshot_id", e.snapshotId)
      if (opts(Opt.EntrySeq)) r.put("sequence_number", e.seq)
      val d = new GenericData.Record(dfs)
      d.put("file_path", e.path)
      d.put("file_format", e.format)
      val part = new GenericData.Record(dfs.getField("partition").schema())
      if (opts(Opt.P0) && e.partition != null) part.put("p0", e.partition)
      d.put("partition", part)
      d.put("record_count", e.records)
      d.put("file_size_in_bytes", e.size)
      d.put("block_size_in_bytes", 64L * 1024 * 1024)
      if (opts(Opt.Bounds)) e.bounds.foreach { case (lo, hi) =>
        d.put("lower_bound", lo)
        d.put("upper_bound", hi)
      }
      if (opts(Opt.ColStats)) e.colStats.foreach { cs =>
        d.put("null_value_counts", kv("null_value_counts", cs.nulls)(identity))
        d.put("lower_bounds",
          kv("lower_bounds", cs.lower)(java.nio.ByteBuffer.wrap))
        d.put("upper_bounds",
          kv("upper_bounds", cs.upper)(java.nio.ByteBuffer.wrap))
      }
      if (opts(Opt.Content)) d.put("content", e.content)
      if (opts(Opt.Dv)) e.dvRef.foreach { case (ref, off, len) =>
        d.put("referenced_data_file", ref)
        d.put("content_offset", off)
        d.put("content_size_in_bytes", len)
      }
      r.put("data_file", d)
      r
    }
    val len = writeAvroFile(
      new File(new File(head.table, "metadata"), name), schema, records)
    MEntry(s"${head.table}/metadata/$name", len, head.nextSid, content,
      head.nextSid, head.defaultSpecId)
  }

  /** The one snapshot commit, shared by every data and delete commit
    * shape: write the manifest list of `manifests` (v2 iff the format
    * version — `head`'s, raised to `minFormat` — is ≥ 2); build the next
    * metadata as a copy of `head`'s plus snapshot `head.nextSid` under
    * `schema` (a schema no existing one matches gets a new schema-id);
    * claim version `head.version + 1` through [[claimMetadata]]. A
    * `toBranch` commit advances only that branch's ref — main and the
    * readable head stay put. On a lost claim the attempt's files are
    * deleted — the list, every manifest the base snapshot's list does not
    * name, and the table-relative `staged` paths (data directories,
    * Puffin files) — and the answer is None; else the new snapshot id. */
  private def commitSnapshot(head: Meta, manifests: Seq[MEntry],
      operation: String, schema: StructType,
      summary: Map[String, String] = Map.empty,
      toBranch: Option[String] = None, timestampMs: Long = 0L,
      staged: Seq[String] = Nil, minFormat: Int = 1): Option[Long] = {
    require(toBranch.forall(_ != "main"),
      "commit to main directly, not via toBranch")
    require(toBranch.isEmpty || head.version > 0,
      "cannot stage a branch commit on a table with no committed metadata")
    val sid = head.nextSid
    val formatVersion = math.max(head.formatVersion, minFormat)
    val listName = s"snap-$sid-${newToken()}.avro"
    writeManifestList(head.table, listName, manifests,
      v2 = formatVersion >= 2)
    val json = head.json.deepCopy[ObjectNode]()
    json.put("format-version", formatVersion)
    if (formatVersion >= 2) json.put("last-sequence-number", sid)
    json.put("location", head.table)
    // schema EVOLUTION: a commit whose schema matches no existing one
    // appends it under a new schema-id (schemas are immutable and
    // id-addressed; snapshots reference the id they were written under)
    val ids = head.assignFieldIds(schema)
    json.put("last-column-id", (head.lastColumnId +: ids).max)
    val fieldsNode = mapper.createArrayNode()
    schema.fields.zip(ids).foreach { case (f, id) =>
      fieldsNode.addObject().put("id", id).put("name", f.name)
        .put("required", false).put("type", icebergType(f.dataType))
    }
    val schemas = json.withArrayProperty("schemas")
    val matching = schemas.asScala.filter(_.get("fields") == fieldsNode)
      .map(_.get("schema-id").asInt()).lastOption
    val schemaId = matching.getOrElse(
      (-1 +: schemas.asScala.map(_.get("schema-id").asInt()).toSeq).max + 1)
    val schemaNode = mapper.createObjectNode()
      .put("type", "struct").put("schema-id", schemaId)
    schemaNode.set[ObjectNode]("fields", fieldsNode)
    if (matching.isEmpty) schemas.add(schemaNode.deepCopy[ObjectNode]())
    json.set[ObjectNode]("schema", schemaNode)
    json.put("current-schema-id", schemaId)
    json.put("current-snapshot-id",
      if (toBranch.isEmpty) sid else head.currentSid)
    val sn = json.withArrayProperty("snapshots").addObject()
    sn.put("snapshot-id", sid)
    // the snapshot this commit planned against (spec: parent-snapshot-id;
    // fastForward walks it to prove ancestry before publishing)
    if (head.version > 0) sn.put("parent-snapshot-id", head.branchHead(toBranch))
    if (formatVersion >= 2) sn.put("sequence-number", sid)
    // the snapshot's time axis (spec: timestamp-ms). 0 by default — the
    // differential gate needs byte-deterministic metadata — and a real
    // stamp when the WRITER declares one (the Delta in-commit-timestamp
    // stance); TIMESTAMP AS OF resolves through it.
    sn.put("timestamp-ms", timestampMs)
    val sum = sn.putObject("summary")
    sum.put("operation", operation)
    summary.foreach { case (k, v) => sum.put(k, v) }
    sn.put("manifest-list", s"${head.table}/metadata/$listName")
    sn.put("schema-id", schemaId)
    json.withObjectProperty("refs").putObject(toBranch.getOrElse("main"))
      .put("snapshot-id", sid).put("type", "branch")
    if (claimMetadata(head.fs, head.table, head.version, json)) Some(sid)
    else {
      // what this attempt staged: the list, every manifest the base
      // snapshot's list does not name, and the staged data
      val carried =
        if (head.version == 0) Set.empty[String]
        else head.manifests(head.branchHead(toBranch)).map(_.path).toSet
      (new Path(metaDir(head.table), listName) +:
        manifests.map(_.path).filterNot(carried).map(new Path(_)) ++:
        staged.map(new Path(head.table, _)))
        .foreach(head.fs.delete(_, true))
      None
    }
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

  /** CREATE TABLE — commit an EMPTY first snapshot (a manifest list with
    * zero manifests): the table exists with its schema and partition
    * spec declared, every reader sees zero rows, and subsequent
    * [[write]]s append under snapshot 1. The DDL half of the SQL front
    * door's `CREATE TABLE` / CTAS ([[graft.sources.v2.GraftCatalog]]).
    * Cost: one empty avro + one metadata JSON; no data plane. */
  def createTable(spark: SparkSession, table: String, schema: StructType,
      partitionField: Option[PartField] = None): Long =
    Occ.commit("CREATE TABLE", table)(headOrEmpty(spark, table)) { empty =>
      // a writer that lost v1 to a concurrent CREATE refuses here on retry
      require(empty.version == 0,
        s"$table already has Iceberg metadata — CREATE TABLE refuses to clobber")
      empty.fs.mkdirs(metaDir(table))
      commitSnapshot(seed(empty, schema, partitionField), Nil, "append",
        schema)
    }

  /** Commit `df` as a new snapshot. `overwrite = true` starts the manifest
    * list fresh (prior data files leave the snapshot); append reuses every
    * prior manifest BY REFERENCE — commit cost is O(new files). Returns
    * the new snapshot id (= metadata version).
    *
    * `partitionField` declares the table HIDDEN-partitioned by a spec
    * transform of a source column: data files are physically split by
    * the transform value, the value is recorded in each file's manifest
    * row (never in the data file — the source column stays there
    * untouched), and [[planPartitioned]] prunes scans off the manifests
    * alone. Every commit to a partitioned table must declare the SAME
    * spec. */
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
    Occ.commit("write", table)(headOrEmpty(spark, table))(
      writeAt(spark, df, _, overwrite, partitionField, summaryProps,
        boundsColumn, operation, formatV2, toBranch, statsColumns,
        timestampMs, requireSourceSnapshot))._1

  /** One [[write]] attempt on the pinned `head` (version 0 before the
    * first commit): the new snapshot id and the number of data files
    * staged, or None when another writer claimed the next version. */
  private def writeAt(spark: SparkSession, df: DataFrame, head: Meta,
      overwrite: Boolean,
      partitionField: Option[PartField],
      summaryProps: Map[String, String],
      boundsColumn: Option[String],
      operation: Option[String] = None,
      formatV2: Boolean = false,
      toBranch: Option[String] = None,
      statsColumns: Seq[String] = Nil,
      timestampMs: Long = 0L,
      requireSourceSnapshot: Option[Long] = None): Option[(Long, Int)] = {
    require(boundsColumn.isEmpty || statsColumns.isEmpty,
      "boundsColumn (legacy long bounds) and statsColumns (spec " +
        "column-stats maps) are mutually exclusive")
    statsColumns.foreach(c => require(df.schema.fieldNames.contains(c),
      s"stats column $c absent from the schema"))
    head.fs.mkdirs(metaDir(head.table))
    if (head.version > 0)
      require(head.partitionSpec == partitionField,
        s"partition spec mismatch on ${head.table}: table has " +
          s"${head.partitionSpec}, commit declares $partitionField")
    // a REPLACEMENT pinned to a source snapshot commits only while that
    // snapshot is still the head (X304): a concurrent commit's rows
    // must never be undone by stale staged data. The claim makes the
    // check-commit pair atomic — a commit sneaking in after this check
    // loses us the claim, and the retry re-checks.
    requireSourceSnapshot.foreach { srcSnap =>
      require(head.currentSid == srcSnap,
        s"replace on ${head.table} conflicts with a concurrent commit: " +
          s"staged from snapshot $srcSnap but the head is now " +
          s"${head.currentSid} — re-run against the new snapshot")
    }
    val base =
      if (head.version > 0) head else seed(head, df.schema, partitionField)
    // stage data files (commit-private dir, the DeltaLite discipline):
    // one file per transform value per task on a partitioned table
    val token = newToken()
    val staged = s"data/s${base.nextSid}-$token"
    // spec column stats key by the FIELD IDS this commit's schema
    // declares — the same assignment the snapshot commit makes (ids ≠
    // positions once the table has dropped a column)
    val ids = base.assignFieldIds(df.schema)
    val fids = statsColumns.map(c => ids(df.schema.fieldNames.indexOf(c)))
    val (manifest, files) = stageData(spark, base, staged, df,
      partitionField, token, boundsColumn, statsColumns.zip(fids))
    // manifest list = prior manifests (append, BY REFERENCE — including
    // any v2 DELETE manifests) + the new one; a branch commit stacks on
    // the BRANCH head (or cuts the branch from main when it does not
    // exist yet). The format version is sticky-upward: v1 tables may
    // upgrade to 2, never downgrade.
    val prior =
      if (overwrite || head.version == 0) Nil
      else base.manifests(base.branchHead(toBranch))
    commitSnapshot(base, prior :+ manifest,
      operation.getOrElse(if (overwrite) "overwrite" else "append"),
      df.schema, summaryProps, toBranch, timestampMs, Seq(staged),
      minFormat = if (formatV2) 2 else 1).map((_, files))
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
    * version, statistics, expiration): each [[Occ.commit]] attempt hands
    * `edit` the pinned head and a private copy of its metadata JSON;
    * `edit` checks against the head, edits the copy in place and answers
    * whether anything changed (false: the head stands and its version is
    * returned). Returns the resulting metadata version. */
  private def commitMetadataEdit(spark: SparkSession, table: String,
      op: String)(edit: (Meta, ObjectNode) => Boolean): Int =
    Occ.commit(op, table)(head(spark, table)) { m =>
      val json = m.json.deepCopy[ObjectNode]()
      if (!edit(m, json)) Some(m.version)
      else Option.when(claimMetadata(m.fs, table, m.version, json))(
        m.version + 1)
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

  /** Ledger `appId`'s state in `m`: the high-water mark [[expireSnapshots]]
    * folded into table properties (-1 when none), and the retained
    * snapshots' own (batch id, snapshot id) markers — only THIS ledger's
    * (snapshots committed by a query-scoped writeStream.toTable carry
    * graft-query-id and live in their own ledger; matching them here
    * would falsely dedup a batch that happens to share the epoch
    * number). */
  private def ledgerOf(m: Meta, appId: String): (Long, Seq[(Long, Long)]) =
    (m.properties.get(hwmKey(appId)).fold(-1L)(_.toLong),
      m.snapshots.filter(s =>
        s.summary.getOrElse("graft-query-id", DefaultLedger) == appId)
        .flatMap(s => s.summary.get("graft-batch-id")
          .filter(_.nonEmpty).map(b => (b.toLong, s.id))))

  /** Exactly-once micro-batch commit — the Delta txnAppId/txnVersion
    * contract in Iceberg terms: the streaming `batchId` travels as a
    * snapshot-summary property, so the snapshot list IS the dedup ledger.
    * A redelivered batch finds its marker among the committed snapshots
    * (or at or below the folded high-water mark — batch ids are monotone,
    * the Structured Streaming contract) and returns the original snapshot
    * id without writing. */
  def commitIdempotent(spark: SparkSession, df: DataFrame, table: String,
      batchId: Long,
      partitionField: Option[PartField] = None,
      toBranch: Option[String] = None): Long =
    Occ.commit("write", table)(headOrEmpty(spark, table)) { h =>
      val (hwm, markers) = ledgerOf(h, DefaultLedger)
      if (batchId <= hwm) Some(h.currentSid)
      else markers.findLast(_._1 == batchId).map(m => Some(m._2))
        .getOrElse(writeAt(spark, df, h, overwrite = false, partitionField,
          Map("graft-batch-id" -> batchId.toString), None,
          toBranch = toBranch).map(_._1))
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
    commitMetadataEdit(spark, table, "setRef") { (m, json) =>
      require(m.has(snapshotId),
        s"snapshot $snapshotId not in $table metadata — cannot ref it")
      json.withObjectProperty("refs").putObject(name)
        .put("snapshot-id", snapshotId).put("type", refType)
      true
    }
  }

  /** Point main (and `current-snapshot-id`) at `sid` in `json`. */
  private def moveMain(json: ObjectNode, sid: Long): Unit = {
    json.put("current-snapshot-id", sid)
    json.withObjectProperty("refs").putObject("main")
      .put("snapshot-id", sid).put("type", "branch")
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
    commitMetadataEdit(spark, table, "rollbackTo") { (m, json) =>
      require(m.has(snapshotId),
        s"snapshot $snapshotId not in $table metadata (expired or never " +
          "committed) — cannot roll back to it")
      m.currentSid != snapshotId && { moveMain(json, snapshotId); true }
    }

  /** Delete a named ref (metadata-only); its snapshot becomes an ordinary
    * expiration candidate again. */
  def dropRef(spark: SparkSession, table: String, name: String): Int = {
    require(name != "main", "cannot drop main")
    commitMetadataEdit(spark, table, "dropRef") { (m, json) =>
      require(m.refs.contains(name), s"no ref $name on $table")
      json.withObjectProperty("refs").remove(name)
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
    evolveSchema(spark, table, "addColumn") { (_, fields) =>
      require(!fields.exists(_._2 == name),
        s"column $name already exists in $table")
      (fields, Some((name, dataType)))
    }

  /** METADATA-ONLY column rename (spec §Schema Evolution, RenameColumn):
    * a new schema-id re-declares the field under its new name with the
    * SAME field id — no snapshot, no byte moved. Head reads resolve old
    * files by id ([[liveScan]]'s write-schema grouping), stats written
    * under the old name keep pruning (manifest stats key by id), and
    * time travel below the rename answers under the original name.
    * Refuses while live EQUALITY-delete files exist: their key columns
    * are implied by the delete file's own parquet NAMES, which a rename
    * would orphan (remedy: rewriteDataFiles first). */
  def renameColumn(spark: SparkSession, table: String, oldName: String,
      newName: String): Int =
    evolveSchema(spark, table, "renameColumn") { (m, fields) =>
      require(fields.exists(_._2 == oldName),
        s"column $oldName not in $table schema")
      require(!fields.exists(_._2 == newName),
        s"column $newName already exists in $table")
      require(m.live(-1L, 1).forall(_.kind != 2),
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
    * partition source column refuses (live specs must resolve). */
  def dropColumn(spark: SparkSession, table: String, name: String): Int =
    evolveSchema(spark, table, "dropColumn") { (_, fields) =>
      require(fields.exists(_._2 == name), s"column $name not in $table")
      require(fields.size > 1, s"cannot drop the only column of $table")
      (fields.filterNot(_._2 == name), None)
    }

  /** Shared METADATA-ONLY schema-evolution commit: `f` maps the pinned
    * head and its current (id, name, type) field list to the evolved
    * form (plus an optional appended column, which gets a fresh monotone
    * id). Appends a new schema node, flips `current-schema-id`, keeps
    * `last-column-id` monotone — NO new snapshot. */
  private def evolveSchema(spark: SparkSession, table: String, op: String)(
      f: (Meta, Seq[Field]) =>
        (Seq[Field], Option[(String, org.apache.spark.sql.types.DataType)]))
      : Int =
    commitMetadataEdit(spark, table, op) { (m, json) =>
      val cur = m.fields(m.currentSchemaId)
      val (kept, appended) = f(m, cur)
      val lastCol = math.max(m.lastColumnId, cur.map(_._1).max)
      val evolved = kept ++ appended.map { case (n, t) => (lastCol + 1, n, t) }
      // the partition source columns must keep resolving by id
      json.path("partition-specs").forEach(s => s.get("fields").forEach { pf =>
        val sid = pf.get("source-id").asInt()
        require(evolved.exists(_._1 == sid),
          s"$op on $table would orphan partition source-id $sid — " +
            "evolve the partition spec first")
      })
      val sid = m.schemas.keys.max + 1
      val arr = json.withArrayProperty("schemas").addObject()
        .put("type", "struct").put("schema-id", sid).putArray("fields")
      evolved.foreach { case (id, n, t) =>
        arr.addObject().put("id", id).put("name", n).put("required", false)
          .put("type", icebergType(t))
      }
      json.put("current-schema-id", sid)
      json.put("last-column-id", math.max(lastCol, evolved.map(_._1).max))
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
    commitMetadataEdit(spark, table, "evolvePartitionSpec") { (m, json) =>
      m.partitionSpec != newSpec && {
        newSpec.foreach { f =>
          require(m.schemaAt(m.currentSid).fieldNames.contains(f.source),
            s"partition source column ${f.source} not in $table schema")
        }
        val newId = m.specs.keys.max + 1
        val lastPartitionId = json.path("last-partition-id").asInt(999)
        val fields = json.withArrayProperty("partition-specs").addObject()
          .put("spec-id", newId).putArray("fields")
        newSpec.foreach { f =>
          fields.addObject().put("name", f.fieldName)
            .put("transform", f.transform)
            .put("source-id", m.fieldIdOf(f.source))
            // spec rule: partition field ids are unique ACROSS specs
            .put("field-id", lastPartitionId + 1)
          json.put("last-partition-id", lastPartitionId + 1)
        }
        json.put("default-spec-id", newId)
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
    commitMetadataEdit(spark, table, "setSortOrder") { (m, json) =>
      require(m.schemaAt(m.currentSid).fieldNames.contains(column),
        s"sort column $column not in $table schema")
      if (!json.has("sort-orders"))
        // spec: order-id 0 is reserved for "unsorted"
        json.putArray("sort-orders").addObject().put("order-id", 0)
          .putArray("fields")
      val orders = json.withArrayProperty("sort-orders")
      val newId = (0 +: orders.asScala.map(_.get("order-id").asInt()).toSeq)
        .max + 1
      orders.addObject().put("order-id", newId).putArray("fields").addObject()
        .put("transform", "identity").put("source-id", m.fieldIdOf(column))
        .put("direction", "asc").put("null-order", "nulls-first")
      json.put("default-sort-order-id", newId)
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
    Occ.commit("writeStatistics", table)(head(spark, table)) { m =>
      val sid = m.currentSid
      val seqNum = m.json.path("last-sequence-number").asLong(sid)
      val schema = m.schemaAt(sid)
      columns.foreach(c => require(schema.fieldNames.contains(c),
        s"statistics column $c not in $table schema"))
      val df = liveScan(spark, m, -1L, keepMeta = false, None)._1
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
          Seq(m.fieldIdOf(c)), sid, seqNum,
          Map("ndv" -> Math.round(sk.getEstimate).toString), sk.toByteArray)
      }
      val written = Puffin.write(blobs,
        Map("created-by" -> "graft IcebergLite"))
      val statsPath = new Path(metaDir(table),
        s"$sid-${java.util.UUID.randomUUID()}.stats.puffin")
      val out = m.fs.create(statsPath, false)
      try out.write(written.bytes) finally out.close()
      val copy = m.json.deepCopy[ObjectNode]()
      val stats = mapper.createArrayNode()
      copy.path("statistics").forEach(s =>
        if (s.get("snapshot-id").asLong() != sid)
          stats.add(s.deepCopy[com.fasterxml.jackson.databind.JsonNode]()))
      val e = stats.addObject()
      e.put("snapshot-id", sid)
      e.put("statistics-path", statsPath.toString)
      e.put("file-size-in-bytes", written.bytes.length.toLong)
      e.put("file-footer-size-in-bytes", written.footerSize)
      val bmArr = e.putArray("blob-metadata")
      written.blobs.foreach { bm =>
        val b = bmArr.addObject()
        b.put("type", bm.blobType)
        b.put("snapshot-id", bm.snapshotId)
        b.put("sequence-number", bm.sequenceNumber)
        val f = b.putArray("fields")
        bm.fields.foreach(f.add)
        if (bm.properties.nonEmpty) {
          val p = b.putObject("properties")
          bm.properties.toSeq.sortBy(_._1).foreach { case (k, pv) => p.put(k, pv) }
        }
      }
      copy.set[ObjectNode]("statistics", stats)
      if (claimMetadata(m.fs, table, m.version, copy)) Some(m.version + 1)
      else { m.fs.delete(statsPath, false); None }
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
    val m = head(spark, table)
    val curSchema = m.schemaAt(m.currentSid)
    val curFields = m.fields(m.currentSchemaId)
    val columns = scala.collection.mutable.LinkedHashSet.empty[String]
    m.json.path("statistics").forEach { entry =>
      val blobFields = m.fields(m.schemaIdAt(entry.get("snapshot-id").asLong()))
      entry.get("blob-metadata").forEach { b =>
        // blob fields are FIELD IDS — resolve to the blob-era name by
        // id, then carry forward only if the CURRENT schema still has
        // that id (renamed columns refresh under their new name)
        val fid = b.get("fields").get(0).asInt()
        blobFields.find(_._1 == fid).map(_._2).foreach { name =>
          val curName = curFields.find(_._1 == fid).map(_._2)
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
    val m = head(spark, table)
    require(m.json.path("statistics").size() > 0,
      s"$table has no statistics files — run writeStatistics first")
    m.json.get("statistics").asScala.toSeq.flatMap { entry =>
      // field ids resolve through the schema AS OF THE BLOB'S SNAPSHOT —
      // a stale entry read under the current schema would silently
      // relabel blobs after a reorder/drop evolution
      val blobFields = m.fields(m.schemaIdAt(entry.get("snapshot-id").asLong()))
      val p = new Path(entry.get("statistics-path").asText())
      val in = m.fs.open(p)
      val bytes = try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
        buf.toByteArray
      } finally in.close()
      require(bytes.length == entry.get("file-size-in-bytes").asLong(),
        s"statistics file $p size ${bytes.length} != metadata's " +
          s"${entry.get("file-size-in-bytes").asLong()} — refusing")
      val (metas, payloads, _) = Puffin.read(bytes)
      val stale = entry.get("snapshot-id").asLong() != m.currentSid
      metas.zip(payloads).map { case (bm, payload) =>
        require(bm.blobType == "apache-datasketches-theta-v1",
          s"unknown statistics blob type ${bm.blobType} — refusing")
        val sk = org.apache.datasketches.theta.CompactSketch.heapify(
          org.apache.datasketches.memory.Memory.wrap(payload))
        val colName = blobFields.find(_._1 == bm.fields.head).map(_._2)
          .getOrElse(throw new IllegalArgumentException(
            s"statistics blob field id ${bm.fields.head} not in its " +
              "snapshot's schema"))
        (colName, Math.round(sk.getEstimate), bm.properties("ndv").toLong,
          stale)
      }
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
    commitMetadataEdit(spark, table, "fastForward") { (m, json) =>
      val (head, refType) = m.refs.getOrElse(branch,
        throw new IllegalArgumentException(s"no ref $branch on $table"))
      require(refType == "branch",
        s"$branch is a tag — only branches fast-forward")
      val mainHead = m.currentSid
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
        val parents = m.snapshots.flatMap(s => s.parent.map(s.id -> _)).toMap
        var cursor = head
        var reaches = false
        while (!reaches && parents.contains(cursor)) {
          cursor = parents(cursor)
          if (cursor == mainHead) reaches = true
        }
        if (!reaches && !m.has(cursor))
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
        moveMain(json, head)
        true
      }
    }

  /** Resolve a named ref (branch or tag) to its snapshot id — the SQL
    * `VERSION AS OF '<ref>'` coordinate (X302). Ref-pointed snapshots
    * survive [[expireSnapshots]] (spec §Refs retention), so a tag read
    * keeps serving after routine expiration. */
  def refSnapshotId(spark: SparkSession, table: String,
      name: String): Long = refInfo(spark, table, name)._1

  /** Read the table at a named ref ([[read]] at the ref's snapshot). */
  def readRef(spark: SparkSession, table: String, name: String): DataFrame =
    read(spark, table, refSnapshotId(spark, table, name))

  /** A ref's (snapshot-id, type) — the type gates writability: branches
    * take commits, tags are immutable. */
  private[graft] def refInfo(spark: SparkSession, table: String,
      name: String): (Long, String) =
    head(spark, table).refs.getOrElse(name,
      throw new IllegalArgumentException(s"no ref $name on $table"))

  /** Snapshot expiration — Iceberg's retention op (`expireSnapshots`):
    * drop all but the newest `keepLast` snapshots from the metadata (a
    * NEW metadata version, committed by the same atomic-create arbiter),
    * then delete every manifest list, manifest, and data-directory file
    * (Parquet data and delete files, Puffin deletion-vector carriers) no
    * retained snapshot references — matched by qualified path against
    * the retained closure, lists → manifests → files; when a reference
    * names the table by another spelling (a symlink, another mount) the
    * sweep deletes nothing. Time
    * travel to an expired snapshot then refuses by its own absence from
    * the snapshot list — never a wrong answer. `graceMs` spares
    * unreferenced files younger than the window, metadata and data alike
    * (plus any data directory mid-write), so a concurrent writer's
    * staged-but-not-yet-claimed list, manifests and files survive the
    * sweep; 0 is the single-writer fast path. Returns (snapshots expired,
    * data-directory files deleted). */
  def expireSnapshots(spark: SparkSession, table: String,
      keepLast: Int, graceMs: Long = 0L): (Long, Long) = {
    val (expired, lists, m) = Occ.commit("expireSnapshots", table)(
        head(spark, table)) { m =>
      // ref-pointed snapshots are retained REGARDLESS of keepLast (spec
      // §Refs retention): a tag exists precisely to outlive routine
      // expiration; drop the ref to release the snapshot
      val reffed = m.refs.values.map(_._1).toSet
      val byAge = m.snapshots.sortBy(_.id)
      val keep = byAge.takeRight(keepLast).map(_.id).toSet ++ reffed
      val (retained, dropped) = byAge.partition(s => keep(s.id))
      if (dropped.isEmpty) Some((0, Nil, m))
      else {
        val json = m.json.deepCopy[ObjectNode]()
        // exactly-once ledger preservation (r09 advisor finding): dropping
        // a snapshot whose summary carries a `graft-batch-id` marker would
        // let a redelivered batch re-commit. Fold the expired markers'
        // high-water mark into table properties, where the idempotent
        // commits consult it — batch ids are monotone, so the max subsumes
        // every dropped marker. Folded PER LEDGER: markers are
        // query-scoped (graft-query-id; absent = the default foreachBatch
        // ledger) — folding them all into one key would cross-contaminate
        // concurrent queries' dedup.
        dropped.groupBy(_.summary.getOrElse("graft-query-id", DefaultLedger))
          .foreach { case (appId, snaps) =>
            val hwm = snaps.flatMap(_.summary.get("graft-batch-id"))
              .map(_.toLong).foldLeft(ledgerOf(m, appId)._1)(math.max)
            if (hwm >= 0) json.withObjectProperty("properties")
              .put(hwmKey(appId), hwm)
          }
        val snaps = json.putArray("snapshots")
        m.json.get("snapshots").forEach(s =>
          if (keep(s.get("snapshot-id").asLong())) snaps.add(s))
        Option.when(claimMetadata(m.fs, table, m.version, json))(
          (dropped.size, retained.map(_.manifestList), m))
      }
    }
    if (expired == 0) return (0L, 0L)
    // the referenced closure of the retained snapshots — lists →
    // manifests → files (data, deletes, vector carriers) — as qualified
    // paths: the metadata stores them as the writer spelled the table
    // (possibly cwd-relative), listings answer qualified ones
    val fs = m.fs
    def qualified(p: Path): String = fs.makeQualified(p).toUri.getPath
    val root = qualified(new Path(table)).stripSuffix("/") + "/"
    val referencedPaths = lists.flatMap { list =>
      val manifests = m.listAt(list)
      list +: (manifests.map(_.path) ++ manifests.flatMap(m.entries).map(_.path))
    }.map(p => qualified(new Path(p)))
    // a reference outside `root` names the table by another spelling (a
    // symlink, another mount): nothing can then be proven unreferenced,
    // so the sweep deletes nothing rather than the live table
    if (!referencedPaths.forall(_.startsWith(root))) return (expired.toLong, 0L)
    val referenced = referencedPaths.toSet
    // concurrent-writer safety (the DeltaLite.vacuum discipline): files
    // younger than `graceMs` are spared — they may belong to a writer
    // between staging and its metadata claim
    val cutoff = System.currentTimeMillis() - graceMs
    def sweep(st: org.apache.hadoop.fs.FileStatus): Boolean =
      !referenced(qualified(st.getPath)) && st.getModificationTime < cutoff &&
        fs.delete(st.getPath, false)
    fs.listStatus(metaDir(table))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".avro"))
      .foreach(sweep)
    var deleted = 0L
    val dataRoot = new Path(table, "data")
    if (fs.exists(dataRoot)) {
      // a commit-private staging directory mid-write (`_temporary`
      // present) is never swept
      val inFlight = fs.listStatus(dataRoot).filter(_.isDirectory)
        .filter(d => fs.exists(new Path(d.getPath, "_temporary")))
        .map(_.getPath.getName).toSet
      val it = fs.listFiles(dataRoot, /* recursive = */ true)
      while (it.hasNext) {
        val st = it.next()
        val n = st.getPath.getName
        // the staging dir is the path component directly under data/
        // (partitioned staging nests _p= dirs below it)
        val staging = qualified(st.getPath).stripPrefix(s"${root}data/")
          .takeWhile(_ != '/')
        if ((n.endsWith(".parquet") || n.endsWith(".puffin")) &&
            !inFlight(staging) && sweep(st))
          deleted += 1
      }
    }
    (expired.toLong, deleted)
  }

  /** The table's current default partition spec — what a new commit
    * must declare. The SQL write path ([[graft.sources.v2.GraftCatalog]])
    * reads it so SQL INSERTs keep the table's physical layout. */
  private[graft] def currentPartitionSpec(spark: SparkSession,
      table: String): Option[PartField] = head(spark, table).partitionSpec

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
    val m = head(spark, table)
    require(m.partitionSpec.isDefined, s"$table is not partitioned")
    val dpf = m.partitionSpec.get
    // `wanted` holds transform values of the CURRENT DEFAULT spec; each
    // manifest is evaluated against its OWN spec (spec §Partition
    // Evolution — residual evaluation per spec):
    //   same spec            → exact value match
    //   narrower truncate w' → keep if any wanted value's w'-prefix
    //                          matches (a superset bucket may hold rows)
    //   wider truncate w'    → keep if the value's defaultW-prefix is
    //                          wanted (a subset bucket)
    //   other column / unpartitioned spec → keep all (no residual exists)
    planOf(m.manifests(-1L).filter(_.content == 0).flatMap { mf =>
      val mSpec = m.specs.getOrElse(mf.specId, None)
      m.entries(mf).filter(_.status != 2).map { e =>
        val pv = e.partition // null = the null partition, NOT "null"
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
        (e.path, keep)
      }
    })
  }

  /** (matched files, matched count, total count) of (file, keep) pairs. */
  private def planOf(all: Seq[(String, Boolean)]): (Seq[String], Long, Long) = {
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
      hi: Long): (Seq[String], Long, Long) =
    planOf(head(spark, table).live(-1L, 0).map(e => (e.path,
      e.bounds.forall { case (l, u) => u >= lo && l <= hi })))

  /** Per-file spec column statistics for `column` off the manifests:
    * (path, lower, upper, null count) — bounds absent when the file was
    * written without [[write]]`(statsColumns)` or the bound was dropped
    * (untruncatable upper). Control-plane reads only. */
  private def colStatsFor(spark: SparkSession, table: String,
      column: String): Seq[(String, Option[Array[Byte]],
      Option[Array[Byte]], Option[Long])] = {
    val m = head(spark, table)
    // the column's FIELD ID (stable across renames — stats written
    // under the old name keep resolving, which is the id system's point)
    val fid = m.currentFieldIds.getOrElse(column,
      throw new IllegalArgumentException(
        s"stats column $column not in $table schema"))
    def at[T](kv: Seq[(Int, T)]): Option[T] = kv.findLast(_._1 == fid).map(_._2)
    m.live(-1L, 0).map { e =>
      val cs = e.colStats
      (e.path, cs.flatMap(c => at(c.lower)), cs.flatMap(c => at(c.upper)),
        cs.flatMap(c => at(c.nulls)))
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
    planOf(colStatsFor(spark, table, column).map {
      case (p, Some(l), Some(u), _) => (p, cmp(u, lo) >= 0 && cmp(l, hi) <= 0)
      case (p, _, _, _) => (p, true)
    })
  }

  /** IS NULL scan planning off null_value_counts (spec field 110): keep
    * only files that MAY hold a null of `column` (recorded count > 0, or
    * no stats). A file with a recorded zero is skipped — at 100 TB the
    * null-audit query (the reference's data-quality shape) opens only
    * the files that can answer it. */
  def planNulls(spark: SparkSession, table: String, column: String)
      : (Seq[String], Long, Long) =
    planOf(colStatsFor(spark, table, column).map { case (p, _, _, nc) =>
      (p, nc.forall(_ > 0L))
    })

  /** Data files of a snapshot (current when < 0) under metadata version
    * `metaV` (newest when <= 0): manifest list → manifests → live
    * entries. All control-plane reads. */
  private[graft] def snapshotFiles(spark: SparkSession, table: String,
      snapshotId: Long, metaV: Int = -1): Seq[String] =
    head(spark, table, metaV).live(snapshotId, 0).map(_.path)

  /** DELETE files live in a snapshot exactly like data files — listed by
    * manifests whose list row says content = 1. */
  private[graft] def snapshotDeleteFiles(spark: SparkSession, table: String,
      snapshotId: Long, metaV: Int = -1): Seq[String] =
    snapshotDeleteEntries(spark, table, snapshotId, metaV).map(_.path)

  /** Every live delete entry of a snapshot (current when < 0). */
  private[graft] def snapshotDeleteEntries(spark: SparkSession, table: String,
      snapshotId: Long, metaV: Int = -1): Seq[Entry] =
    head(spark, table, metaV).live(snapshotId, 1)

  /** Exact current-snapshot table size off the manifests alone:
    * (row count, data bytes) — the control-plane numbers a cost-based
    * planning decision reads without touching a data file. */
  private[graft] def tableSizeStats(spark: SparkSession,
      table: String): (Long, Long) = {
    val files = head(spark, table).live(-1L, 0)
    (files.map(_.records).sum, files.map(_.size).sum)
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
    val m = head(spark, table)
    require(m.partitionSpec.isDefined, s"$table is not partitioned")
    m.manifests(-1L).filter(_.content == 0).flatMap { mf =>
      require(mf.specId == m.defaultSpecId,
        s"manifest ${mf.path} was written under spec ${mf.specId}, not the " +
          s"default ${m.defaultSpecId} — key-grouped scans need one spec; " +
          "rewriteDataFiles first")
      m.entries(mf).filter(_.status != 2)
    }.groupBy(_.partition).toSeq
      .map { case (pv, es) => (pv, es.map(e => (e.path, e.size))) }
      .sortBy(_._1)
  }

  /** Incremental read: rows ADDED in snapshots (fromSnap, toSnap] —
    * directly off the manifest list's `added_snapshot_id` field (each
    * manifest records which snapshot added it, so the incremental file
    * set needs no diffing). A range containing an overwrite snapshot
    * REFUSES (its summary says so) — an append-only feed cannot represent
    * logical deletion, the [[DeltaLite.readChanges]] contract. */
  def readChanges(spark: SparkSession, table: String, fromSnap: Long,
      toSnap: Long): DataFrame = {
    val m = head(spark, table)
    m.snapshots.foreach { s =>
      // `replace` (rewriteDataFiles) changes no rows, but it REPLACES the
      // manifest list, so the added_snapshot_id walk below can no longer
      // attribute earlier rows to their true snapshots — refuse rather
      // than double-count (full ancestry-walking incremental scan is
      // Iceberg's own answer; out of this subset, stated as such)
      if (s.id > fromSnap && s.id <= toSnap &&
        Set("overwrite", "replace", "delete")(s.operation))
        throw new UnsupportedOperationException(
          s"snapshot ${s.id} ${s.operation}s rows/files: append-only change " +
            "feed cannot represent it — use row-level CDC")
    }
    val files = m.manifests(toSnap)
      .filter(mf => mf.content == 0 &&
        mf.addedSid > fromSnap && mf.addedSid <= toSnap)
      .flatMap(m.entries).filter(_.status != 2).map(_.path)
    require(files.nonEmpty, s"no files added in ($fromSnap, $toSnap] on $table")
    ParquetDirect.read(spark, files: _*)
  }

  /** The (snapshotId, timestamp-ms) ledger of every retained snapshot
    * carrying a REAL stamp (> 0), ascending by id — the table's time
    * axis when its writers declared one ([[write]]`(timestampMs)`). */
  def snapshotLedger(spark: SparkSession, table: String): Seq[(Long, Long)] =
    head(spark, table).snapshots.filter(_.timestampMs > 0L)
      .map(s => (s.id, s.timestampMs)).sortBy(_._1)

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
    val m = head(spark, table)
    val files = m.snapshots.filter(s => s.id > fromSnap && s.id <= toSnap)
      .flatMap { s =>
        s.operation match {
          case "overwrite" | "delete" =>
            throw new UnsupportedOperationException(
              s"snapshot ${s.id} ${s.operation}s rows: append-only change " +
                "feed cannot represent it — use row-level CDC")
          case "replace" => Nil // byte rewrite, no new rows
          case _ => m.manifests(s.id)
            .filter(mf => mf.content == 0 && mf.addedSid == s.id)
            .flatMap(m.entries).filter(_.status != 2).map(_.path)
        }
      }
    // a requested range reaching past retention is an error, not silence
    (fromSnap + 1 to toSnap).foreach(sid => require(m.has(sid),
      s"snapshot $sid expired from $table: ancestry walk cannot attribute " +
        "its rows"))
    require(files.nonEmpty, s"no files added in ($fromSnap, $toSnap] on $table")
    ParquetDirect.read(spark, files: _*)
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
    val m = head(spark, table)
    // snapshot ids derive from metadata versions, which metadata-only
    // commits (rollback, statistics, refs, expiration) also consume — ids
    // legitimately skip integers, so NO dense-id assertion (it would
    // spuriously refuse fully-retained ranges on such tables). Retention
    // is validated on the ids actually in the snapshots list: the upper
    // endpoint here (an expired endpoint would silently truncate the
    // feed), every in-range snapshot by membership, and each one's
    // parent by the per-snapshot check below.
    require(m.has(toSnap),
      s"snapshot $toSnap is not a retained snapshot of $table: changelog " +
        "cannot reconstruct its changes (expired, or a metadata-only " +
        "version id — pass a snapshot id)")
    val sids = m.snapshots.map(_.id).filter(s => s > fromSnap && s <= toSnap)
      .sorted
    require(sids.nonEmpty, s"no snapshots in ($fromSnap, $toSnap] on $table")
    val slices = sids.flatMap { sid =>
      if (m.snap(sid).operation == "replace") Seq.empty[DataFrame]
      else {
        val parent = m.parentOf(sid, "changelog")
        def tagged(df: DataFrame, kind: String) = df
          .withColumn("_change_type", lit(kind))
          .withColumn("_snapshot_id", lit(sid))
        val curFiles = m.live(sid, 0).map(e => (FileKey(e.path), e.path)).toMap
        val parE = parent.map(m.live(_, 0)).getOrElse(Nil)
        val parFiles = parE.map(e => (FileKey(e.path), e.path)).toMap
        val addedPaths = (curFiles.keySet -- parFiles.keySet).toSeq.sorted
          .map(curFiles)
        val removedKeys = parFiles.keySet -- curFiles.keySet
        val inserts =
          if (addedPaths.isEmpty) None
          else Some(tagged(spark.read.schema(m.schemaAt(sid))
            .parquet(addedPaths: _*), "insert"))
        val cowDeletes =
          if (removedKeys.isEmpty) None
          else Some(tagged(liveScan(spark, m, parent.get, keepMeta = true,
            Some(removedKeys))._1.drop("__fn", "__ri"), "delete"))
        // delete FILES this snapshot added (MOR DML): the rows they mask
        // were live at the parent — the parent view filtered to the rows
        // the new deletes alone kill (positions, vectors and equality
        // tuples in one executor filter)
        val newDeletes = m.live(sid, 1).filter(_.snapshotId == sid)
        val morDeletes =
          if (newDeletes.isEmpty) None
          else {
            // a vector committed here is the file's SUPERSET vector; its
            // positions already masked at the parent are not parent-live,
            // so the filter announces exactly its fresh deletions
            val killed = maskOf(spark, newDeletes, seqByKey(parE))
            Some(tagged(MaskFilter(spark,
                liveScan(spark, m, parent.get, keepMeta = true, None)._1,
                killed, alive = false)
              .drop("__fn", "__ri"), "delete"))
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
    val m = head(spark, table)
    if (!m.has(sid)) return Seq.empty // metadata-only gap
    if (m.snap(sid).operation == "replace") return Seq.empty // compaction
    val parent = m.parentOf(sid, "the change stream")
    val curE = m.live(sid, 0)
    val cur = curE.map(e => (FileKey(e.path), e.path)).toMap
    val parE = parent.map(m.live(_, 0)).getOrElse(Seq.empty)
    val par = parE.map(e => (FileKey(e.path), e.path)).toMap
    val parSeq = seqByKey(parE)
    // the feed's executor-side readers scan files BY NAME under the
    // table's current schema — refuse units over files written under
    // since-renamed names (remedy: rewriteDataFiles; scoped to THIS
    // snapshot's involved files, never the whole feed)
    require(!m.namesDrift(curE ++ parE),
      s"snapshot $sid of $table involves files written under " +
        "since-renamed column names — IcebergLite.rewriteDataFiles first")
    val sidDel = m.live(sid, 1)
    val parDel = parent.map(m.live(_, 1)).getOrElse(Nil)
    // a file's parent-side position mask (parquet rows ∪ vector, gated
    // to the parent's files): those rows were already dead and must not
    // re-announce. Positions pass the driver bounded by deleted-row count
    // (the DV cost model).
    val parentPos = maskOf(spark, parDel.filter(_.kind != 2), parSeq).posByFile
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
    def eqValue(e: Entry): EqVals =
      eqCache.getOrElseUpdate(e.path, EqVals.load(spark, e.path, e.seq))
    val parentEqEntries = parDel.filter(_.kind == 2)
    // the parent's equality state, sequence-gated per parent file:
    // values that already masked rows there must not re-announce
    def skipEqFor(k: String): Seq[EqVals] =
      parSeq.get(k).map(dseq =>
        parentEqEntries.filter(_.seq > dseq).map(eqValue)).getOrElse(Nil)
    val newDel = sidDel.filter(_.snapshotId == sid)
    // positions and vectors committed at THIS snapshot (deleteWhereDV
    // never pairs a vector with a parquet delete in one commit): a
    // vector's SUPERSET content minus the parent mask is exactly its
    // fresh deletions, like a new position-delete file's rows
    val newPos = maskOf(spark, newDel.filter(_.kind != 2),
      seqByKey(parE ++ curE)).posByFile
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
        val applicable = newEqEntries.filter(_.seq > parSeq(k)).map(eqValue)
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

  /** file key → data sequence number of `entries`. */
  private def seqByKey(entries: Seq[Entry]): Map[String, Long] =
    entries.map(e => (FileKey(e.path), e.seq)).toMap

  /** The schema in force at `snapshotId` (current when < 0) — the
    * planning surface [[graft.sources.v2.GraftCatalog]] types its
    * SQL-visible scans with. */
  private[graft] def schemaAt(spark: SparkSession, table: String,
      snapshotId: Long = -1L): StructType = {
    val m = head(spark, table)
    if (snapshotId < 0) m.currentSchema else m.schemaAt(snapshotId)
  }

  /** Read the table at `snapshotId` (default: current) — one multi-path
    * parquet scan under the snapshot's OWN schema (files predating an
    * evolution surface added columns as NULL); pushdown/pruning/AQE
    * untouched. Format-version-2 snapshots carrying POSITION DELETES
    * (spec §Row-level deletes) are merged on read: a delete row
    * (file_path, pos) suppresses that position in every data file whose
    * data sequence number ≤ the delete file's sequence number. */
  def read(spark: SparkSession, table: String, snapshotId: Long = -1L): DataFrame =
    liveScan(spark, head(spark, table), snapshotId, keepMeta = false, None)._1

  /** Scan `files` under read-schema `readSid`'s NAMES, resolving each
    * file's physical parquet columns through the schema it was WRITTEN
    * under — matched BY FIELD ID, the spec's identity rule, so renamed
    * columns keep serving from pre-rename files and a re-added name
    * never resurrects a dropped column's values. Files group by write
    * schema (one multi-path scan per NAME EPOCH — the no-rename common
    * case plans exactly today's single scan); fields absent from a
    * file's write schema surface as NULL. `withMeta` appends the
    * (__fn, __ri) position columns the delete machinery joins on. */
  private def readUnderSchemaNames(spark: SparkSession, m: Meta,
      readSid: Int, files: Seq[Entry], withMeta: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val readFields = m.fields(readSid)
    val readSchema = StructType(readFields.map(f =>
      org.apache.spark.sql.types.StructField(f._2, f._3)))
    def metaCols(df: DataFrame): DataFrame =
      if (!withMeta) df
      else df.withColumn("__fn", FileKey.column(col("_metadata.file_path")))
        .withColumn("__ri", col("_metadata.row_index"))
    val bySchema = files.groupBy(f =>
      m.snapshotSchemaIds.getOrElse(f.snapshotId, readSid))
    if (bySchema.keys.forall(w => w == readSid ||
        m.nameIdentical(readFields, w)))
      // FAST PATH (no live name drift): one by-name multi-path scan
      return metaCols(spark.read.schema(readSchema)
        .parquet(files.map(_.path): _*))
    // a file whose adding snapshot EXPIRED cannot prove its name epoch
    // once the table has drifted names — refuse rather than misread
    require(files.forall(f => m.snapshotSchemaIds.contains(f.snapshotId)),
      s"live data files predate retained history on a table with " +
        "renamed columns — IcebergLite.rewriteDataFiles first")
    val out = bySchema.toSeq.sortBy(_._1).map { case (wsid, group) =>
      val wById = m.fields(wsid).map(x => x._1 -> x._2).toMap
      // physical read schema: the read fields PRESENT in this epoch,
      // under their as-written names (types from the read schema — type
      // evolution is not in this subset)
      val phys = StructType(readFields.collect {
        case (id, _, t) if wById.contains(id) =>
          org.apache.spark.sql.types.StructField(wById(id), t)
      })
      val df = metaCols(spark.read.schema(phys)
        .parquet(group.map(_.path): _*))
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
    val m = headOrEmpty(spark, table)
    if (m.version == 0) return false
    val readSid =
      if (snapshotId < 0) m.currentSchemaId else m.schemaIdAt(snapshotId)
    val readFields = m.fields(readSid)
    // metadata-only precheck: unless SOME schema in the immutable list
    // name-diverges from the read one, no file can drift — the
    // no-rename common case never walks a manifest here
    m.schemas.keys.exists(w => w != readSid && !m.nameIdentical(readFields, w)) &&
      m.currentSid >= 0 &&
      m.namesDrift(m.live(snapshotId, 0), readSid)
  }

  /** True iff the files ADDED at snapshot `sid` were written under
    * column names that drift from the CURRENT schema — the guard for
    * by-name incremental readers consuming a commit that predates a
    * rename (metadata-only check). */
  private[graft] def addedNamesDrift(spark: SparkSession, table: String,
      sid: Long): Boolean = {
    val m = headOrEmpty(spark, table)
    m.version > 0 && {
      val w = m.schemaIdAt(sid)
      w != m.currentSchemaId &&
        !m.nameIdentical(m.fields(m.currentSchemaId), w)
    }
  }

  /** The scan of snapshot `snapshotId` (current when < 0) of the pinned
    * `m`, with every live delete applied through [[MaskFilter]] —
    * optionally RETAINING the (__fn, __ri) position columns (the
    * coordinate system [[deleteWhere]] records deletes in; `__fn` is the
    * [[FileKey]] two-component file key) and RESTRICTED to a planned
    * subset of data files by file key (the rewrite ops read only the
    * files they touch). Answers also the mask it applied and the data
    * entries it scanned. Head reads scan under the table's CURRENT
    * schema (a metadata-only evolution surfaces immediately); time
    * travel under the snapshot's. */
  private def liveScan(spark: SparkSession, m: Meta, snapshotId: Long,
      keepMeta: Boolean, onlyFiles: Option[Set[String]])
      : (DataFrame, MorMask, Seq[Entry]) = {
    val all = m.live(snapshotId, 0)
    val dataFiles = onlyFiles.fold(all)(names =>
      all.filter(e => names.contains(FileKey(e.path))))
    require(dataFiles.nonEmpty, s"snapshot has no data files in ${m.table}")
    val mask = maskOf(spark, m.live(snapshotId, 1), seqByKey(dataFiles))
    val readSid =
      if (snapshotId < 0) m.currentSchemaId else m.schemaIdAt(snapshotId)
    val base = readUnderSchemaNames(spark, m, readSid, dataFiles,
      withMeta = !mask.isEmpty || keepMeta)
    val live =
      if (mask.isEmpty) base
      else {
        val live = MaskFilter(spark, base, mask, alive = true)
        if (keepMeta) live else live.drop("__fn", "__ri")
      }
    (live, mask, dataFiles)
  }

  /** Stage matched positions as position-delete parquet and return the
    * DELETE-manifest entries + rows deleted. Unpartitioned tables stage
    * ONE (file_path, pos)-sorted file; partitioned tables stage PER
    * PARTITION VALUE (`positions` must carry `_p`, the spec transform of
    * the row's own value) with the value recorded on each entry — at
    * 100 TB a partition-restricted scan then opens only its own
    * partition's delete files. */
  private def stagePositionDeletes(spark: SparkSession, head: Meta,
      positions: org.apache.spark.sql.DataFrame, staged: String,
      partitioned: Boolean): (Seq[Entry], Long) = {
    import org.apache.spark.sql.functions.col
    val files =
      if (!partitioned) Staging.write(head.table, staged,
        positions.coalesce(1).sortWithinPartitions("file_path", "pos"))
      else Staging.write(head.table, staged, positions, Some(col("_p")),
        sortWithin = Seq("file_path", "pos"))
    // row counts from the staged footers, not a Spark count job
    val counts = Staging.stats(spark, files)
    val n = counts.values.map(_.rows).sum
    if (n == 0) return (Seq.empty, 0L)
    val opts = optsOf(Opt.P0 -> partitioned, Opt.Content -> true)
    (files.map(f => Entry.added(head, s"${head.table}/${f.rel}", "PARQUET",
      1, counts(f.key).rows, f.status.getLen, opts)
      .copy(partition = if (partitioned) f.value else null)), n)
  }

  /** The position-delete rows of `matched` (carrying `__fn`, `__ri`), in
    * the spec's delete-file schema: the full file_path as recorded in the
    * manifests (field-id 2147483546) and pos (2147483545) — plus, on a
    * partitioned table, `_p`, the spec transform of the row's own value,
    * so the delete files land PER PARTITION. */
  private def positionsOf(spark: SparkSession, matched: DataFrame,
      dataFiles: Seq[Entry], spec: Option[PartField]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import spark.implicits._
    val nameToPath = dataFiles.map(e => (FileKey(e.path), e.path))
      .toDF("__fn", "file_path")
    spec match {
      case None => matched.select("__fn", "__ri")
        .join(broadcast(nameToPath), "__fn")
        .select(col("file_path"), col("__ri").as("pos"))
      case Some(pf) => matched
        .select(col("__fn"), col("__ri"),
          pf.valueColumn(col(pf.source)).as("_p"))
        .join(broadcast(nameToPath), "__fn")
        .select(col("file_path"), col("__ri").as("pos"), col("_p"))
    }
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
      keys: DataFrame): (Long, Long) =
    Occ.commit("equality delete", table)(head(spark, table)) { m =>
      val schema = m.currentSchema
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
      val token = newToken()
      val staged = s"data/s${m.nextSid}-$token-eqdel"
      // the delete file IS the value list — no scan of the table happens
      // at delete time (the kind's whole point for a streaming writer)
      tuples.coalesce(1)
        .write.mode("errorifexists").parquet(s"$table/$staged")
      val entries = m.fs.listStatus(new Path(table, staged))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName).toSeq
        .map(p => Entry.added(m, s"$table/$staged/${p.getPath.getName}",
          "PARQUET", 2, nTuples, p.getLen, optsOf(Opt.Content -> true)))
      val manifest = writeManifest(m, s"${m.nextSid}-$token-del-m0.avro",
        optsOf(Opt.Content -> true), entries, content = 1)
      commitSnapshot(m, m.manifests(-1L) :+ manifest, "delete", schema,
        staged = Seq(staged), minFormat = 2).map((_, nTuples))
    }

  /** TRUNCATE — a `delete` snapshot whose manifest list is EMPTY:
    * nothing live, zero data I/O regardless of table size. History is
    * preserved (earlier snapshots still time-travel; expiration
    * reclaims their files), and the next append starts a fresh live
    * set. Returns (snapshotId, filesRemoved). */
  def truncate(spark: SparkSession, table: String): (Long, Long) =
    Occ.commit("truncate", table)(head(spark, table)) { m =>
      val nFiles = m.live(-1L, 0).size.toLong
      if (nFiles == 0) Some((m.currentSid, 0L))
      else commitSnapshot(m, Nil, "delete", m.currentSchema)
        .map((_, nFiles))
    }

  /** STICKY-UPWARD format-version upgrade (metadata-only commit; the
    * spec's upgrade path — never a downgrade). v3 unlocks DELETION
    * VECTORS ([[deleteWhereDV]]). Returns the new metadata version. */
  def upgradeFormatVersion(spark: SparkSession, table: String,
      to: Int): Int = {
    require(to == 2 || to == 3, s"format-version $to outside the subset")
    commitMetadataEdit(spark, table, "upgradeFormatVersion") { (m, json) =>
      m.formatVersion < to && {
        json.put("format-version", to)
        if (!json.has("last-sequence-number"))
          json.put("last-sequence-number", m.currentSid.max(0L))
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
      entries: Seq[Entry]): Map[String, (Array[Long], Long)] = {
    val dvs = entries.flatMap(e => e.dv.map((e, _)))
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
      lo: Long, hi: Long): (Long, Long) =
    Occ.commit("DV delete", table)(head(spark, table)) { m =>
      import org.apache.spark.sql.functions.col
      require(m.formatVersion >= 3,
        s"deletion vectors are a format-version-3 feature — " +
          s"IcebergLite.upgradeFormatVersion($table, 3) first")
      val spec = m.partitionSpec
      val snapshotId = m.nextSid
      // matched LIVE positions — prior masks (parquet deletes AND vectors)
      // already applied by the read, so this is exactly the NEW deletions;
      // driver-bounded by the deleted-row count (the DV cost model). On a
      // partitioned table each file also carries its rows' (constant)
      // transform value, recorded on the vector's manifest entry so a
      // partition-restricted scan loads only its own partition's vectors.
      // The scan's mask is also the prior mask below: the delete payloads
      // load once.
      val (live, mask, dataFiles) =
        liveScan(spark, m, -1L, keepMeta = true, None)
      val dataPaths = dataFiles.map(e => (FileKey(e.path), e.path)).toMap
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
      if (matched.isEmpty) Some((m.currentSid, 0L))
      else {
        val nNew = matched.values.map(_._1.length.toLong).sum
        // the SUPERSET contract: the file's new vector = prior vector ∪
        // still-applicable parquet position-delete rows ∪ new matches
        val vectors = matched.toSeq.sortBy(_._1).map { case (fn, (pos, pv)) =>
          val prior = mask.posByFile.getOrElse(fn, Array.empty[Long])
          (fn, (pos ++ prior).distinct.sorted, pv)
        }
        val token = newToken()
        val written = Puffin.write(
          vectors.map { case (fn, pos, _) =>
            ("deletion-vector-v1", Seq.empty[Int], snapshotId, snapshotId,
              Map("referenced-data-file" -> dataPaths(fn),
                "cardinality" -> pos.length.toString),
              DeletionVectors.serializeBitmap(pos))
          },
          Map("created-by" -> "graft IcebergLite"))
        val rel = s"data/s$snapshotId-$token-dv.puffin"
        val out = m.fs.create(new Path(table, rel), false)
        try out.write(written.bytes) finally out.close()
        val opts = optsOf(Opt.P0 -> spec.isDefined, Opt.Content -> true,
          Opt.Dv -> true)
        val entries = vectors.zip(written.blobs).map { case ((fn, pos, pv), b) =>
          Entry.added(m, s"$table/$rel", "PUFFIN", 1, pos.length.toLong,
            written.bytes.length.toLong, opts).copy(partition = pv,
            dvRef = Some((dataPaths(fn), b.offset, b.length)))
        }
        val manifest = writeManifest(m, s"$snapshotId-$token-dv-m0.avro",
          opts, entries, content = 1)
        commitSnapshot(m, m.manifests(-1L) :+ manifest, "delete",
          m.currentSchema, staged = Seq(rel)).map((_, nNew))
      }
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
      lo: Long, hi: Long): (Long, Long) =
    Occ.commit("delete", table)(head(spark, table)) { m =>
      import org.apache.spark.sql.functions.col
      val spec = m.partitionSpec
      // matched LIVE positions (earlier deletes already applied)
      val (live, _, dataFiles) = liveScan(spark, m, -1L, keepMeta = true, None)
      val positions = positionsOf(spark,
        live.where(col(column).between(lo, hi)), dataFiles, spec)
      val token = newToken()
      val staged = s"data/s${m.nextSid}-$token-del"
      // DELETE manifest — the manifest-LIST row's content = 1 marks the
      // manifest as deletes; each entry's data_file.content = 1 marks the
      // file as POSITION deletes (2 would be equality)
      val (entries, nDeleted) =
        stagePositionDeletes(spark, m, positions, staged, spec.isDefined)
      if (nDeleted == 0) {
        m.fs.delete(new Path(table, staged), true)
        Some((m.currentSid, 0L))
      } else {
        val manifest = writeManifest(m, s"${m.nextSid}-$token-del-m0.avro",
          entries.head.opts, entries, content = 1)
        // manifest list: every prior manifest BY REFERENCE + the delete
        // manifest, content=1, sequence = this snapshot (applies to all
        // data files with sequence ≤ it — i.e. everything live right now)
        commitSnapshot(m, m.manifests(-1L) :+ manifest, "delete",
          m.currentSchema, staged = Seq(staged), minFormat = 2)
          .map((_, nDeleted))
      }
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
      : (Long, Long) =
    Occ.commit("update", table)(head(spark, table)) { m =>
      import org.apache.spark.sql.functions.col
      val spec = m.partitionSpec
      val schema = m.currentSchema
      require(set.keySet.subsetOf(schema.fieldNames.toSet),
        s"unknown columns in SET: ${set.keySet -- schema.fieldNames}")
      spec.foreach { pf =>
        require(!set.contains(pf.source),
          s"SET of partition source column ${pf.source} would move rows " +
            "across partitions — rewrite via mergeInto/rewriteDataFiles " +
            "instead")
      }
      // merge-on-read matched set: earlier deletes/updates already applied,
      // so coordinates are the rows' CURRENT files
      val (live, _, dataFiles) = liveScan(spark, m, -1L, keepMeta = true, None)
      val matched = live.where(col(column).between(lo, hi)).persist()
      try {
        val rowsUpdated = matched.count()
        if (rowsUpdated == 0) Some((m.currentSid, 0L))
        else {
          val token = newToken()
          // (1) matched rows' old coordinates → position-delete file(s);
          // per-partition with the value on each entry when the table is
          // partitioned (delete files prune with their partition)
          val stagedDel = s"data/s${m.nextSid}-$token-del"
          val (delEntries, _) = stagePositionDeletes(spark, m,
            positionsOf(spark, matched, dataFiles, spec), stagedDel,
            spec.isDefined)
          // (2) matched rows with assignments applied → new data files,
          // laid out per partition on a partitioned table (the update never
          // moves a row across partitions — SET of the source column
          // refuses)
          val updated = set.foldLeft(matched.drop("__fn", "__ri")) {
            case (d, (k, expr)) => d.withColumn(k, expr)
          }.select(schema.fieldNames.map(col).toIndexedSeq: _*)
          val stagedData = s"data/s${m.nextSid}-$token-upd"
          val (dataManifest, _) = stageData(spark, m, stagedData, updated,
            spec, token)
          val delManifest = writeManifest(m,
            s"${m.nextSid}-$token-del-m0.avro",
            optsOf(Opt.P0 -> spec.isDefined, Opt.Content -> true),
            delEntries, content = 1)
          // manifest list: every prior manifest BY REFERENCE + both new
          // kinds at this snapshot's sequence, under the current default
          // spec
          commitSnapshot(m, m.manifests(-1L) ++ Seq(dataManifest, delManifest),
            "overwrite", schema, staged = Seq(stagedDel, stagedData),
            minFormat = 2).map((_, rowsUpdated))
        }
      } finally matched.unpersist()
    }

  /** Stage `df` under `dir` — one file per transform value per task when
    * `spec` is set — and write its data manifest ([[writeDataManifest]])
    * with the stats of the staged files; answers the manifest and the
    * number of files staged. */
  private def stageData(spark: SparkSession, head: Meta, dir: String,
      df: DataFrame, spec: Option[PartField], token: String,
      boundsColumn: Option[String] = None,
      colStats: Seq[(String, Int)] = Nil): (MEntry, Int) = {
    val files = Staging.write(head.table, dir, df, spec.map(pf =>
      pf.valueColumn(org.apache.spark.sql.functions.col(pf.source))))
    val cols = StructType(
      (boundsColumn.toSeq ++ colStats.map(_._1)).map(df.schema(_)))
    (writeDataManifest(head, token, files, Staging.stats(spark, files, cols),
      spec.isDefined, boundsColumn, colStats), files.size)
  }

  /** [[writeDataManifest]] over EXACTLY the files the SQL writers
    * reported (table-relative, sorted) — never a directory listing, so
    * stray files from failed attempts stay invisible to readers. With
    * `values` the entries are PARTITIONED (each file's p0 = its declared
    * value). */
  private def writeReportedManifest(spark: SparkSession, head: Meta,
      addRel: Seq[String], values: Option[Map[String, String]],
      token: String): MEntry = {
    val files = addRel.sorted.map(f => Staging.File(f,
      values.flatMap(_.get(f)).orNull,
      head.fs.getFileStatus(new Path(head.table, f))))
    writeDataManifest(head, token, files, Staging.stats(spark, files),
      values.isDefined)
  }

  /** Write ONE data manifest of ADDED entries for the next snapshot of
    * `head` over staged `files`, in order: each file's record count from
    * `stats` ([[Staging.stats]]), its raw value as `p0` when
    * `partitioned`, and either the legacy long bounds of `boundsColumn`
    * or the spec column-stats maps (null counts, single-value binary
    * bounds) of `colStats` (column → field id). A zero-row file carries
    * record_count 0 and no column stats. */
  private def writeDataManifest(head: Meta, token: String,
      files: Seq[Staging.File], stats: Map[String, FooterStats.PerFile],
      partitioned: Boolean, boundsColumn: Option[String] = None,
      colStats: Seq[(String, Int)] = Nil): MEntry = {
    val opts = optsOf(Opt.P0 -> partitioned,
      Opt.Bounds -> boundsColumn.isDefined, Opt.ColStats -> colStats.nonEmpty)
    val entries = files.map { f =>
      val pf = stats(f.key)
      Entry.added(head, s"${head.table}/${f.rel}", "PARQUET", 0, pf.rows,
        f.status.getLen, opts).copy(
        partition = if (partitioned) f.value else null,
        bounds = boundsColumn.flatMap(c => (pf.cols(c).min, pf.cols(c).max)
          match {
            case (lo: java.lang.Long, hi: java.lang.Long) =>
              Some((lo.longValue(), hi.longValue()))
            case _ => None // all-NULL slice: no bounds
          }),
        colStats = Option.when(colStats.nonEmpty && pf.rows > 0L) {
          val cs = colStats.map { case (c, fid) => (fid, pf.cols(c)) }
          ColStats(cs.map(t => (t._1, t._2.nulls)),
            cs.flatMap(t => boundBytes(t._2.min, upper = false).map((t._1, _))),
            cs.flatMap(t => boundBytes(t._2.max, upper = true).map((t._1, _))))
        })
    }
    writeManifest(head, s"${head.nextSid}-$token-m0.avro", opts, entries)
  }

  /** MERGE INTO (upsert) with file-granular COPY-ON-WRITE rewrite —
    * [[DeltaLite]]-side MERGE's parity op, planned the Iceberg way: only
    * the data files that CONTAIN a matched key are rewritten (matched
    * rows replaced by their source row, survivors riding along);
    * untouched files stay referenced — at the MANIFEST grain
    * ([[carryManifests]]). Source rows with no match append as new
    * files. Duplicate source keys refuse (ambiguous MERGE, SQL
    * semantics). A source that matches nothing degrades to a plain
    * append commit. Returns (snapshotId, rowsUpdated, rowsInserted). */
  def mergeInto(spark: SparkSession, table: String, source: DataFrame,
      keyCol: String): (Long, Long, Long) =
    Occ.commit("merge", table)(head(spark, table)) { m =>
      import org.apache.spark.sql.functions.{col, collect_set, count => cnt, lit => lt}
      require(m.partitionSpec.isEmpty,
        "mergeInto on hidden-partitioned tables is outside the subset")
      val schema = m.currentSchema
      require(source.columns.toSet == schema.fieldNames.toSet,
        s"source schema ${source.columns.toSeq} != table ${schema.fieldNames.toSeq}")
      require(schema.fieldNames.contains(keyCol), s"key $keyCol not in $table")
      val src = source.select(schema.fieldNames.map(col).toIndexedSeq: _*)
        .persist()
      try {
        val nSrc = MergeSource.profile(src, keyCol, lt(true)).rows
        // unique by the profile: the key column IS the source key set
        val srcKeys = src.select(keyCol)
        // match discovery: ONE pass over the live table — matched row count,
        // matched-key count, and the touched-file set (bounded by file count)
        val mm = liveScan(spark, m, -1L, keepMeta = true, None)._1
          .select(col(keyCol), col("__fn"))
          .join(srcKeys, Seq(keyCol))
          .agg(cnt(lt(1)).as("n"),
            collect_set("__fn").as("fns"),
            org.apache.spark.sql.functions.countDistinct(col(keyCol)).as("nk"))
          .collect()(0)
        val rowsUpdated = mm.getAs[Long]("n")
        val matchedKeys = mm.getAs[Long]("nk")
        // the rewrite below replaces ALL matched rows of a key with the ONE
        // source row (left_anti + union) — if the TARGET holds several rows
        // for a matched key that silently shrinks the table (SQL MERGE
        // updates each matched row), so refuse the ambiguity outright, the
        // same stance taken for duplicate source keys above
        require(rowsUpdated == matchedKeys,
          s"duplicate $keyCol values among matched TARGET rows " +
            s"($rowsUpdated rows across $matchedKeys keys) — ambiguous MERGE")
        val touched = mm.getAs[scala.collection.Seq[String]]("fns").toSet
        val rowsInserted = nSrc - matchedKeys
        if (touched.isEmpty)
          // nothing matched: a plain append commit of the source
          writeAt(spark, src, m, overwrite = false, None, Map.empty, None,
            Some("append"), formatV2 = m.formatVersion >= 2)
            .map { case (sid, _) => (sid, 0L, rowsInserted) }
        else {
          val token = newToken()
          // rewritten content for the touched files: their surviving live
          // rows (deletes applied by the scan) + every source row (matched
          // rows' replacements land here; unmatched rows are the inserts)
          val survivors = liveScan(spark, m, -1L, keepMeta = true,
              Some(touched))._1
            .join(srcKeys, Seq(keyCol), "left_anti")
            .drop("__fn", "__ri")
            .select(schema.fieldNames.map(col).toIndexedSeq: _*)
          val stagedData = s"data/s${m.nextSid}-$token-mrg"
          val (manifest, _) = stageData(spark, m, stagedData,
            survivors.unionByName(src), None, token)
          val carried =
            carryManifests(m, token)(e => touched.contains(FileKey(e.path)))
          commitSnapshot(m, carried :+ manifest, "overwrite", schema,
            staged = Seq(stagedData)).map((_, rowsUpdated, rowsInserted))
        }
      } finally src.unpersist()
    }

  /** The current manifests of `m` with the live data entries `drop`
    * selects removed — the spec's RewriteFiles shape: a manifest none of
    * whose entries is dropped is carried BY REFERENCE, a fully dropped
    * one leaves the list, and a partially dropped one is re-written with
    * its surviving entries in its own shape and under its ORIGINAL list
    * coordinates (adding snapshot, sequence, spec) — preserving sequence
    * keeps every carried position/equality delete applying to exactly
    * the rows it applied to before. Delete manifests are carried whole:
    * position rows for removed files are inert (scan planning joins them
    * against live files only), rows for kept files must keep applying,
    * and equality deletes keep their sequence while re-staged files'
    * HIGHER data sequence exempts re-written rows (spec §Scan Planning:
    * equality applies strictly below its own sequence). The commit's
    * metadata cost is O(touched manifests), never O(table). */
  private def carryManifests(m: Meta, token: String)(drop: Entry => Boolean)
      : Seq[MEntry] = {
    var rewrites = 0
    m.manifests(-1L).flatMap { mf =>
      val (dropped, kept) =
        if (mf.content != 0) (Nil, Nil)
        else m.entries(mf).partition(e => e.status != 2 && drop(e))
      if (dropped.isEmpty) Some(mf)
      else if (kept.isEmpty) None
      else {
        rewrites += 1
        Some(writeManifest(m, s"${m.nextSid}-$token-surv$rewrites.avro",
          kept.head.opts, kept).copy(addedSid = mf.addedSid, seq = mf.seq,
          specId = mf.specId))
      }
    }
  }

  /** The position-delete payloads of `entries` (kind 1) as (data-file
    * key, position, delete sequence) rows — the only reader of
    * position-delete files. Each file is read on the driver with no
    * Spark job; a file whose schema is not exactly `(file_path, pos)`
    * (the spec's optional `row` column, say) falls back to a Spark read
    * of those two columns. */
  private def loadPositions(spark: SparkSession,
      entries: Seq[Entry]): Seq[(String, Long, Long)] = {
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
  private def maskOf(spark: SparkSession, deletes: Seq[Entry],
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
    * metadata version `metaV` (the newest when <= 0). */
  private[graft] def morMask(spark: SparkSession, table: String,
      snapshotId: Long, metaV: Int): MorMask = {
    val m = head(spark, table, metaV)
    val deletes = m.live(snapshotId, 1)
    if (deletes.isEmpty) MorMask.empty
    else maskOf(spark, deletes, seqByKey(m.live(snapshotId, 0)))
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
    * DML. The file list and the mask derive from ONE pinned metadata
    * version, so a commit landing mid-pin cannot pair them
    * inconsistently. */
  private[graft] def rowLevelSnapshot(spark: SparkSession, table: String)
      : (Seq[String], StructType, MorMask) = {
    val m = head(spark, table)
    val entries = m.live(-1L, 0)
    // the row-level scan reads data files BY NAME (the tagged parquet
    // factory) — refuse while any live file predates a column rename
    // (remedy: rewriteDataFiles, which restages under current names)
    require(!m.namesDrift(entries),
      s"$table has live files written under since-renamed column " +
        "names — IcebergLite.rewriteDataFiles first, then retry the " +
        "SQL row-level statement")
    (entries.map(_.path), m.schemaAt(m.currentSid),
      maskOf(spark, m.live(-1L, 1), seqByKey(entries)))
  }

  /** Commit the COPY-ON-WRITE replacement the SQL row-level write path
    * staged ([[graft.sources.v2.GraftReplaceBatchWrite]]): remove the
    * absolute `removePaths`, add the table-relative staged `addRel`
    * files, ONE `overwrite` snapshot. Manifest discipline is
    * [[mergeInto]]'s RewriteFiles shape ([[carryManifests]]). */
  private[graft] def commitReplaceFiles(spark: SparkSession, table: String,
      removePaths: Seq[String], addRel: Seq[String],
      operation: String,
      partitionValues: Map[String, String] = Map.empty,
      pinnedDeleteFiles: Option[Set[String]] = None): Long =
    Occ.commit(operation, table)(head(spark, table))(
      commitReplaceFilesAt(spark, removePaths, addRel, operation,
        partitionValues, pinnedDeleteFiles, _))

  /** One [[commitReplaceFiles]] attempt on the pinned head `m`: conflict
    * checks against it, then the claim of the next version — which loses
    * whenever the head moved past `m`, whether before the checks or after
    * them, and the next attempt re-checks against the new head. */
  private[graft] def commitReplaceFilesAt(spark: SparkSession,
      removePaths: Seq[String], addRel: Seq[String],
      operation: String, partitionValues: Map[String, String],
      pinnedDeleteFiles: Option[Set[String]], m: Meta): Option[Long] = {
    val table = m.table
    val removed = removePaths.map(FileKey(_)).toSet
    // OPTIMISTIC CONFLICT RESOLUTION: the rewrite may commit against the
    // base ONLY while every file it removes is still live there (a
    // concurrent APPEND commutes; a concurrent rewrite of our files does
    // not — the liveness require below surfaces that loudly instead of
    // dropping its effects). Checked on EVERY attempt, not just retries
    // (X304): the hazard window is pin-to-commit — a compaction landing
    // between the row-level snapshot pin and this commit would
    // otherwise be clobbered on a first-attempt claim that sees the
    // compacted head as prev (removes match nothing, adds duplicate the
    // rewritten rows). The checks read the base itself, never a newer
    // head: a racing compaction's re-staged pre-update rows must not be
    // carried past the liveness require (the SqlConcurrencyProperties
    // UPDATE-vs-OPTIMIZE falsification).
    require(removed.subsetOf(m.live(-1L, 0).map(e => FileKey(e.path)).toSet),
      s"$operation on $table conflicts with a concurrent commit " +
        "that rewrote the same files — re-run the statement against " +
        "the new snapshot")
    // MERGE-ON-READ conflict rule (X300, checked EVERY attempt — the
    // hazard is the pin-to-commit window, not just a lost claim): the
    // rewrite re-staged its files' rows from the PINNED delete state,
    // so a delete file that landed since then and touches those rows
    // would be silently undone. A fresh POSITION delete conflicts iff
    // it references a file this commit removes; a fresh EQUALITY
    // delete always conflicts (its values may match re-staged rows —
    // the new data files' higher sequence would exempt them from a
    // delete that serialized first). Fresh deletes on untouched files
    // commute: their manifests are carried and keep applying.
    pinnedDeleteFiles.foreach { pinned =>
      val fresh = m.live(-1L, 1).filterNot(e => pinned.contains(e.path))
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
        val touched = loadPositions(spark, fresh).map(_._1).toSet
        require(touched.intersect(removed).isEmpty,
          s"$operation on $table conflicts with a concurrent position " +
            "delete on a file it rewrites — re-run the statement " +
            "against the new snapshot")
      }
    }
    val pfOpt = m.partitionSpec
    require(pfOpt.isEmpty || addRel.forall(partitionValues.contains),
      "partitioned replacement adds must each declare their partition " +
        "value")
    val token = newToken()
    val added =
      if (addRel.isEmpty) None
      else Some(writeReportedManifest(spark, m, addRel,
        pfOpt.map(_ => partitionValues), token))
    val carried = carryManifests(m, token)(e => removed.contains(FileKey(e.path)))
    commitSnapshot(m, carried ++ added, operation, m.currentSchema)
  }

  /** The current snapshot id — the streaming source's offset axis. */
  private[graft] def currentSnapshotId(spark: SparkSession,
      table: String): Long = head(spark, table).currentSid

  /** A snapshot's parent pointer (None for roots or pre-pointer
    * writers) — the branch-divergence witness after a rollback. */
  private[graft] def parentSnapshotOf(spark: SparkSession, table: String,
      snapshotId: Long): Option[Long] =
    head(spark, table).snapshots.find(_.id == snapshotId).flatMap(_.parent)

  /** The ids actually present in the current metadata's snapshots list,
    * in commit order (ids are assigned monotonically, so numeric order
    * IS sequence order). The streaming source needs this because the id
    * axis is monotone but NOT dense: a metadata-only commit (ALTER,
    * partition-spec evolution) consumes a metadata version without
    * producing a snapshot, leaving a gap before the next append's id. */
  private[graft] def snapshotIdList(spark: SparkSession,
      table: String): Seq[Long] = head(spark, table).snapshots.map(_.id).sorted

  /** Gap-tolerant single-version append diff for the streaming source:
    * an id absent from the snapshots list (a metadata-only commit's
    * version) contributes NO files instead of throwing; a present id
    * diffs against its ACTUAL predecessor snapshot, not id-1 — so a
    * checkpointed readStream survives ALTER TABLE + append instead of
    * wedging on the missing id. */
  private[graft] def addedFilesAt(spark: SparkSession, table: String,
      v: Long): Seq[String] = {
    val m = head(spark, table)
    if (!m.has(v)) Seq.empty
    else addedFilesOn(m, m.snapshots.map(_.id).filter(_ < v).maxOption
      .getOrElse(-1L), v)
  }

  /** The FILE-level append diff for the streaming source (X291): data
    * files live at snapshot `toSnap` but not at `fromSnap` (-1 = table
    * start → the whole snapshot). Refuses when `fromSnap` files have
    * disappeared by `toSnap` (a rewrite — appends-only streams cannot
    * represent it) or when the range carries merge-on-read delete
    * files. Control-plane reads only. */
  private[graft] def addedFilesBetween(spark: SparkSession, table: String,
      fromSnap: Long, toSnap: Long): Seq[String] =
    addedFilesOn(head(spark, table), fromSnap, toSnap)

  private def addedFilesOn(m: Meta, fromSnap: Long,
      toSnap: Long): Seq[String] = {
    require(m.live(toSnap, 1).isEmpty,
      s"${m.table} carries merge-on-read delete files — the table stream " +
        "serves appends only; consume row-level changes via readChangelog")
    val to = m.live(toSnap, 0).map(_.path)
    if (fromSnap < 0) return to
    val from = m.live(fromSnap, 0).map(e => FileKey(e.path)).toSet
    require(from.subsetOf(to.map(FileKey(_)).toSet),
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
      partitionValues: Map[String, String] = Map.empty): Long =
    // OPTIMISTIC RETRY: an epoch append conflicts with nothing, so a
    // lost race (a concurrent query's epoch, a batch writer) just
    // re-reads the head and re-stages — the per-appId ledger check
    // re-runs each attempt so a concurrently landed replay still no-ops.
    Occ.commit(s"streaming epoch $epochId", table)(headOrEmpty(spark, table)) {
        m =>
      require(m.version > 0,
        s"$table has no Iceberg metadata — CREATE TABLE through the " +
          "catalog first")
      // the ledger contract is MONOTONE (micro-batch ids only grow within
      // a query), so anything at-or-below the MAX committed marker is a
      // redelivery and must no-op — an equality-only marker match would
      // re-commit a replayed id whose own marker snapshot is absent
      // (found by StreamCommitProperties)
      val (hwm, markers) = ledgerOf(m, appId)
      markers.findLast(_._1 == epochId).map(x => Some(x._2)).getOrElse {
        if (epochId <= (hwm +: markers.map(_._1)).max || addRel.isEmpty)
          Some(m.currentSid) // a redelivery, or an empty epoch
        else {
          // PARTITIONED tables stream too (X295): the rolling streaming
          // writers report each staged file's transform value, recorded
          // as manifest p0 so log-only pruning keeps working on epochs
          val pfS = m.partitionSpec
          require(pfS.isEmpty || addRel.forall(partitionValues.contains),
            s"$table is partitioned: streaming adds must declare their " +
              "transform values")
          val manifest = writeReportedManifest(spark, m, addRel,
            pfS.map(_ => partitionValues), newToken())
          commitSnapshot(m, m.manifests(-1L) :+ manifest, "append",
            m.currentSchema, Map("graft-batch-id" -> epochId.toString,
              "graft-query-id" -> appId))
        }
      }
    }

  /** Static partition OVERWRITE (X289) — the Iceberg landing of
    * `INSERT OVERWRITE t PARTITION (p = 'v')`: ONE `overwrite` snapshot
    * replaces exactly the files whose transform value equals `value`
    * with the incoming frame. Manifest discipline as everywhere else
    * ([[carryManifests]]); manifests under a DIFFERENT spec than the
    * default refuse (a residual drop across specs could leak rows of the
    * replaced partition — rewriteDataFiles first). Incoming rows must
    * ALL land in the replaced partition; leaking rows refuse. */
  def replacePartition(spark: SparkSession, df: DataFrame, table: String,
      value: String): Long =
    Occ.commit("partition overwrite", table)(head(spark, table)) { m =>
      import org.apache.spark.sql.functions.col
      val pf = m.partitionSpec.getOrElse(
        throw new IllegalArgumentException(
          s"$table is not partitioned — INSERT OVERWRITE the whole table"))
      m.manifests(-1L).find(mf => mf.content == 0 &&
          mf.specId != m.defaultSpecId).foreach(mf =>
        throw new IllegalArgumentException(
          s"manifest ${mf.path} was written under spec ${mf.specId}, not " +
            s"the default ${m.defaultSpecId} — partition-grain overwrite " +
            "needs one spec; rewriteDataFiles first"))
      val stray = df.select(pf.valueColumn(col(pf.source)).as("__pv"))
        .where(!(col("__pv") <=> value)).limit(1).collect()
      require(stray.isEmpty,
        s"INSERT OVERWRITE PARTITION ($value): incoming rows land in " +
          s"partition ${stray.headOption.map(_.get(0)).orNull} — refuse " +
          "rather than leak")
      val token = newToken()
      val staged = s"data/s${m.nextSid}-$token-po"
      val (manifest, _) = stageData(spark, m, staged, df, Some(pf), token)
      commitSnapshot(m, carryManifests(m, token)(_.partition == value) :+
        manifest, "overwrite", m.currentSchema, staged = Seq(staged))
    }

  /** rewriteManifests — Iceberg's MANIFEST compaction (`CALL
    * system.rewrite_manifests`): a 100 TB table ingesting every few
    * minutes accumulates one manifest per commit, and scan PLANNING —
    * not scanning — becomes the bottleneck (thousands of small avro
    * reads per query). This op rewrites the current snapshot's DATA
    * manifests into one consolidated manifest per entry-schema shape
    * and spec, each entry carrying its ORIGINAL sequence_number and
    * snapshot_id explicitly (the spec's entry-level inheritance fields,
    * field-ids 3/1) so sequence-gated semantics — position/equality-
    * delete applicability, re-append survival, schema-epoch resolution —
    * are byte-preserved. Delete manifests are carried untouched.
    * METADATA-ONLY: no data file is read or written; operation
    * `replace`, rows unchanged, change feeds silent. Returns
    * (snapshotId, manifestsBefore, manifestsAfter). */
  def rewriteManifests(spark: SparkSession,
      table: String): (Long, Long, Long) =
    Occ.commit("rewriteManifests", table)(head(spark, table)) { m =>
      val (dataMans, deleteMans) = m.manifests(-1L).partition(_.content == 0)
      val before = dataMans.size.toLong
      if (before <= 1) Some((m.currentSid, before, before))
      else {
        val token = newToken()
        // live entries, grouped by entry-schema SHAPE and spec (one
        // rewritten manifest per group — appends from one writer share a
        // shape, so the common case consolidates to ONE)
        val rewritten = dataMans.flatMap(mf => m.entries(mf)
            .filter(_.status != 2).map((_, mf.specId)))
          .groupBy { case (e, specId) => (e.opts - Opt.EntrySeq, specId) }
          // the historical order: shape flags, then spec id, as text
          .toSeq.sortBy { case ((opts, specId), _) =>
            (Seq(Opt.Content, Opt.Bounds, Opt.ColStats, Opt.Dv, Opt.P0)
              .map(opts(_)) :+ specId).mkString(",") }
          .zipWithIndex.map { case (((opts, specId), entries), i) =>
            // EXISTING — carried, not added
            val recs = entries.map(_._1.copy(status = 0))
              .sortBy(e => (e.seq, e.path))
            writeManifest(m, s"${m.nextSid}-$token-rm$i.avro",
              opts + Opt.EntrySeq, recs).copy(specId = specId)
          }
        commitSnapshot(m, rewritten ++ deleteMans, "replace", m.currentSchema)
          .map((_, before, rewritten.size.toLong))
      }
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
    val m = head(spark, table)
    val before = m.live(-1L, 0).size.toLong
    // a declared sort order turns compaction into the CLUSTERING op
    // (Iceberg's rewriteDataFiles sort strategy): range-partition by the
    // sort column, sort within files, record per-file bounds — the
    // planBounds layer then prunes surgically instead of keeping every
    // hash-spread file
    val sortCol = m.sortOrderColumn
    // a table carrying live position deletes compacts even under the file
    // target: the rewrite is ALSO the op that materializes deletes away
    // (read() merges them; the fresh overwrite manifest list drops the
    // delete manifests) — same contract as DeltaLite.optimize with DVs.
    // A sort-ordered table always rewrites: re-clustering IS the work.
    if (before <= targetFiles && m.live(-1L, 1).isEmpty && sortCol.isEmpty) {
      if (refreshStats) refreshStatistics(spark, table)
      return (m.currentSid, before, before)
    }
    val spec = m.partitionSpec
    require(spec.isEmpty || sortCol.isEmpty,
      "sort-ordered compaction of a partitioned table is outside the " +
        "subset — the per-value staging re-shuffles by partition and " +
        "would discard the clustering")
    val src = liveScan(spark, m, -1L, keepMeta = false, None)._1
    val clustered = sortCol match {
      case Some(c) if targetFiles > 1 =>
        src.repartitionByRange(targetFiles, col(c)).sortWithinPartitions(c)
      case Some(c) => src.coalesce(1).sortWithinPartitions(c)
      // partitioned: the overwrite's own per-value staging lays files
      // out by transform value (deletes materialized away per partition)
      case None if spec.isDefined => src
      case None => src.coalesce(targetFiles)
    }
    // the overwrite's list names only its own manifest: the files it
    // staged are the snapshot's files
    val (sid, after) = Occ.commit("rewriteDataFiles", table)(
      head(spark, table))(writeAt(spark, clustered, _,
      overwrite = true, operation = Some("replace"),
      partitionField = spec,
      boundsColumn = sortCol.filter(c =>
        m.schemaAt(m.currentSid)(c).dataType == LongType),
      summaryProps = sortCol.map(_ => "sort-order-id" ->
        m.json.path("default-sort-order-id").asInt(0).toString).toMap,
      // the rewrite replaces EXACTLY the planned snapshot's rows: refuse
      // loudly if anything committed since (X304) — a retried overwrite
      // staged from the old head would silently undo the race winner
      requireSourceSnapshot = Some(m.currentSid)))
    if (refreshStats) refreshStatistics(spark, table)
    (sid, before, after.toLong)
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
    val m = head(spark, table)
    m.snapshots.map { s =>
      // DATA manifests only: a delete snapshot adds a content=1 manifest
      // whose entries are delete files, not table files
      val manifests = m.manifests(s.id).filter(_.content == 0)
      def liveCount(own: Boolean): Long = manifests
        .filter(mf => !own || mf.addedSid == s.id)
        .map(mf => m.entries(mf).count(_.status != 2).toLong).sum
      (s.id, s.operation, liveCount(own = true), liveCount(own = false),
        s.summary.get("graft-batch-id").flatMap(_.toLongOption).getOrElse(-1L))
    }.toDF("snapshot_id", "operation", "n_added_files", "n_total_files",
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
    *   - `refs` — the named branch/tag pointers;
    *   - `partitions`, `entries`, `all_manifests`, `all_files` — below.
    *
    * All control-plane: the walk reads manifest METADATA (the same files
    * scan planning reads), never a data file — at 100 TB this is a few
    * KB of Avro, which is the feature's point: file inventory queries
    * cost O(manifests), not O(table). */
  def metadataTable(spark: SparkSession, table: String,
      kind: String): DataFrame = {
    import spark.implicits._
    val m = head(spark, table)
    def name(p: String) = new Path(p).getName
    def fileRow(e: Entry) =
      (e.content, name(e.path), e.format, e.records, e.size)
    kind match {
      case "snapshots" =>
        m.snapshots.map(s => (s.id, s.operation, m.schemaIdAt(s.id),
            name(s.manifestList), s.id == m.currentSid))
          .toDF("snapshot_id", "operation", "schema_id", "manifest_list",
            "is_current").orderBy("snapshot_id")
      case "manifests" =>
        m.manifests(-1L).map { mf =>
          val entries = m.entries(mf)
          def n(status: Int) = entries.count(_.status == status).toLong
          (name(mf.path), mf.len, mf.content, mf.seq, mf.addedSid,
            n(1), n(0), n(2))
        }.toDF("path", "length", "content", "sequence_number",
          "added_snapshot_id", "added_files_count", "existing_files_count",
          "deleted_files_count").orderBy("sequence_number", "path")
      case "files" =>
        m.manifests(-1L).flatMap(m.entries).filter(_.status != 2).map(fileRow)
          .toDF("content", "file_path", "file_format", "record_count",
            "file_size_in_bytes").orderBy("content", "file_path")
      case "refs" =>
        m.refs.toSeq.map { case (n, (sid, t)) => (n, t, sid) }
          .toDF("name", "type", "snapshot_id").orderBy("name")
      case "partitions" =>
        // `table$partitions`: per-partition file and record inventory off
        // the manifests' partition values + record_count statistics — the
        // layout-health view (skew, small-file pressure per partition)
        // that costs O(manifests) metadata, never a data-file open.
        // Unpartitioned files report a NULL partition (Iceberg's own
        // convention for evolved-in unpartitioned specs).
        m.live(-1L, 0).groupBy(_.partition).toSeq
          .map { case (pv, es) => (pv, es.size.toLong, es.map(_.records).sum) }
          .toDF("partition", "n_files", "record_count")
          .orderBy("partition")
      case "entries" =>
        // `table$entries`: one row per manifest ENTRY of the current
        // snapshot, statuses INCLUDED (0 existing / 1 added / 2 deleted
        // — `files` hides 2s; this is the audit view of what each
        // manifest physically carries and which snapshot wrote it).
        m.manifests(-1L).flatMap(m.entries).map(e => (e.status, e.snapshotId,
            e.seq, e.content, name(e.path), e.format, e.records, e.partition))
          .toDF("status", "snapshot_id", "sequence_number", "content",
            "file_path", "file_format", "record_count", "partition")
          .orderBy("sequence_number", "content", "file_path", "status",
            "partition")
      case "all_manifests" =>
        // `table$all_manifests`: the manifests view widened across ALL
        // retained snapshots (one row per snapshot × manifest-list
        // entry, reference_snapshot_id attributing the walk). Control-
        // plane-sized: retained snapshots × their list rows — no
        // manifest needs opening beyond the lists themselves.
        m.snapshots.flatMap(s => m.manifests(s.id).map(mf =>
            (s.id, name(mf.path), mf.len, mf.content, mf.seq, mf.addedSid)))
          .toDF("reference_snapshot_id", "path", "length", "content",
            "sequence_number", "added_snapshot_id")
          .orderBy("reference_snapshot_id", "sequence_number", "path")
      case "all_files" =>
        // `table$all_files`: every data/delete file LIVE in any retained
        // snapshot, deduped — the time-travel-wide inventory (what a
        // GC/audit sweep must treat as referenced; expireSnapshots'
        // delete set is exactly live(current) subtracted from this).
        m.snapshots.flatMap(s => m.manifests(s.id).flatMap(m.entries))
          .filter(_.status != 2).map(fileRow).distinct
          .toDF("content", "file_path", "file_format", "record_count",
            "file_size_in_bytes").orderBy("content", "file_path")
      case other => throw new IllegalArgumentException(
        s"unknown metadata table '$other' (snapshots | manifests | " +
          "files | refs | partitions | entries | all_manifests | " +
          "all_files)")
    }
  }
}
