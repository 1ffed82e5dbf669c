package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Literal, NamedReference, Transform}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{DeltaLite, IcebergLite}

/** X268: the catalog surface — how every real user reaches a table. The
  * reference addresses EVERYTHING by warehouse-qualified name through its
  * query engine's catalog (`Sites/DataProc_Script/
  * spark_ingest_slmandicprd.py:99-103` reads
  * `project.dataset.table` names, never file paths); this is that
  * front door for the two table formats this engine maintains, done the
  * Spark-native way: a `TableCatalog` plugin
  * (`spark.sql.catalog.<name> = graft.sources.v2.GraftCatalog`,
  * `spark.sql.catalog.<name>.warehouse = <root>`), so
  * `spark.sql("SELECT … FROM <name>.<db>.<table>")` — including
  * `VERSION AS OF` time travel — resolves through the standard DSv2
  * analyzer path with ZERO bespoke query code.
  *
  * Architecture: the catalog is a THIN PLANNING shim. `loadTable`
  * assembles the table's snapshot through the format implementation
  * ([[DeltaLite.snapshotAt]] / [[IcebergLite.snapshotFiles]]) — log
  * replay, time travel, schema resolution, live-file planning all live
  * THERE — and then hands the planned live files to Spark's own
  * `ParquetTable`, so the physical plan is the exact multi-path
  * vectorized parquet `BatchScan` a hand-built `spark.read.parquet(...)`
  * twin produces: filter pushdown, column pruning, whole-stage codegen
  * and AQE all come from the built-in scan, not from code here. At
  * 100 TB the catalog does control-plane work only (one log/metadata
  * read per query); the data plane is untouched Spark.
  *
  * Format detection is structural: a `_delta_log` directory → Delta, an
  * Iceberg `metadata` directory → Iceberg. `VERSION AS OF v` maps to the
  * Delta version / Iceberg snapshot id (both formats' own time-travel
  * coordinate).
  *
  * Merge-on-read snapshots (Delta deletion vectors, Iceberg position/
  * equality deletes) serve through SQL too (X276): the table the catalog
  * returns routes those snapshots through the format reader's OWN
  * masked plan via the [[org.apache.spark.sql.connector.read.V1Scan]]
  * bridge — deleted rows never resurrect, and pushed filters/pruned
  * columns still reach the underlying parquet scans through Catalyst.
  * Clean snapshots keep the stock vectorized `ParquetTable` path.
  *
  * The catalog is also a WRITE surface (X275): `CREATE TABLE` (+ CTAS,
  * provider `delta` | `iceberg`, default delta), `INSERT INTO` (append)
  * and `INSERT OVERWRITE` (truncating overwrite) commit through
  * [[DeltaLite]]/[[IcebergLite]]'s own atomic arbiters — SQL writes and
  * API writes serialize on the same log and are indistinguishable to
  * readers. ALTER/RENAME keep refusing (schema evolution goes through
  * the format APIs); DROP TABLE removes the table directory.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Option(options.get("warehouse")).map(_.stripSuffix("/"))
      .getOrElse(throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.warehouse is required"))
  }

  override def name(): String = catName

  private def spark = SparkSession.active
  private def fs = new Path(warehouse)
    .getFileSystem(spark.sessionState.newHadoopConf())

  private def tablePath(ident: Identifier): String =
    (warehouse +: ident.namespace.toSeq :+ ident.name).mkString("/")

  // ---- tables ----------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsPath = new Path((warehouse +: namespace.toSeq).mkString("/"))
    if (!fs.exists(nsPath)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(nsPath).filter(_.isDirectory).map(_.getPath)
      .filter(p => fs.exists(new Path(p, "_delta_log")) ||
        fs.exists(new Path(p, "metadata")))
      .map(_.getName).sorted.map(Identifier.of(namespace, _))
  }

  override def tableExists(ident: Identifier): Boolean = {
    val p = new Path(tablePath(ident))
    fs.exists(new Path(p, "_delta_log")) || fs.exists(new Path(p, "metadata"))
  }

  override def loadTable(ident: Identifier): Table = load(ident, -1L)

  /** `VERSION AS OF v` — the analyzer routes the literal here. Numeric
    * literals are Delta versions / Iceberg snapshot ids; a non-numeric
    * string resolves through the Iceberg REFS map (X302): `VERSION AS
    * OF 'audit'` reads a tag/branch head in SQL — the WAP workflow's
    * audit read (X261s/v) without leaving the SQL surface; tag-pointed
    * snapshots survive expiration (spec §Refs retention), so the read
    * keeps serving after routine cleanup. Delta has no named refs —
    * refuses with the remedy. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v =
      try version.toLong
      catch {
        case _: NumberFormatException =>
          val path = tablePath(ident)
          if (!fs.exists(new Path(path, "metadata")))
            throw new IllegalArgumentException(
              s"VERSION AS OF '$version': Delta tables have no named " +
                "refs — use a numeric version (Iceberg branches/tags " +
                "resolve by name)")
          IcebergLite.refSnapshotId(spark, path, version)
      }
    load(ident, v)
  }

  /** `TIMESTAMP AS OF` — resolved THROUGH Delta in-commit timestamps
    * ([[DeltaLite.readTimestampAsOf]]'s rule, X36ab): the analyzer hands
    * the evaluated literal as MICROSECONDS since epoch; the newest
    * version whose stamp is ≤ it serves through the same planned-files
    * path as a version read. Tables without stamps refuse with the
    * remedy named — file-modification times are exactly the unreliable
    * axis in-commit timestamps exist to end, so this catalog never
    * falls back to them. Iceberg tables resolve through their snapshots'
    * own `timestamp-ms` axis when the writers declared stamps
    * (`IcebergLite.write(timestampMs)`); stampless tables refuse with
    * the remedy named. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val path = tablePath(ident)
    if (!fs.exists(new Path(path, "_delta_log"))) {
      if (fs.exists(new Path(path, "metadata"))) {
        // Iceberg: resolve through the snapshots' OWN timestamp-ms axis
        // — present only when the writers declared stamps
        // (IcebergLite.write(timestampMs), the in-commit-timestamp
        // stance); stampless tables refuse with the remedy named
        val ms = math.floorDiv(timestamp, 1000L)
        val ledger = IcebergLite.snapshotLedger(spark, path)
        require(ledger.nonEmpty,
          s"$catName.$ident carries no snapshot timestamps — write with " +
            "IcebergLite.write(timestampMs = …), or use VERSION AS OF " +
            "(snapshot id)")
        require(ms >= ledger.head._2,
          s"TIMESTAMP AS OF $ms precedes the first stamped snapshot " +
            s"${ledger.head._2} of $catName.$ident")
        return load(ident, ledger.takeWhile(_._2 <= ms).last._1)
      }
      throw new NoSuchTableException(ident)
    }
    val ms = math.floorDiv(timestamp, 1000L)
    val ledger = DeltaLite.ictLedger(spark, path)
    require(ledger.nonEmpty,
      s"$catName.$ident has no in-commit timestamps — " +
        "DeltaLite.enableInCommitTimestamps first, or use VERSION AS OF")
    require(ms >= ledger.head._2,
      s"TIMESTAMP AS OF $ms precedes the first retained in-commit " +
        s"timestamp ${ledger.head._2} of $catName.$ident — pre-ICT " +
        "versions have no reliable time axis in this subset")
    load(ident, ledger.takeWhile(_._2 <= ms).last._1)
  }

  private def load(ident: Identifier, version: Long): Table = {
    val path = tablePath(ident)
    if (fs.exists(new Path(path, "_delta_log"))) loadDelta(ident, path, version)
    else if (fs.exists(new Path(path, "metadata")))
      loadIceberg(ident, path, version)
    else loadMetadataTable(ident, version).getOrElse(
      throw new NoSuchTableException(ident))
  }

  /** Iceberg's metadata-table idiom through SQL: `cat.db.t.snapshots`
    * parses as namespace [db, t] + name `snapshots` — when [db, t]
    * resolves to a table and the name is a metadata kind, the relation
    * serves as a [[LocalRowsTable]] (control-plane-sized by
    * construction: rows ∝ snapshots/manifests, never data). Kinds:
    * Iceberg `snapshots | manifests | files | refs | partitions |
    * entries | all_manifests | all_files | history`; Delta `history`
    * (DESCRIBE HISTORY's relation). Time
    * travel on a metadata table refuses — the relations are already
    * ABOUT history. */
  private def loadMetadataTable(ident: Identifier,
      version: Long): Option[Table] = {
    if (ident.namespace.length < 2) return None
    val parent = (warehouse +: ident.namespace.toSeq).mkString("/")
    val kind = ident.name
    val isIce = fs.exists(new Path(parent, "metadata"))
    val isDelta = fs.exists(new Path(parent, "_delta_log"))
    if (!isIce && !isDelta) return None
    if (kind == "changes") {
      // the CHANGE FEED relation (X297) — data-sized, so never a
      // LocalRowsTable: batch serves the full row-level history through
      // the V1 bridge; Delta additionally streams it micro-batch-wise
      require(version < 0,
        "VERSION AS OF on t.changes: the feed is already about history " +
          "— bound it with startingVersion / readCdf ranges instead")
      val baseSchema =
        if (isDelta) {
          val snap = DeltaLite.snapshotAt(spark, parent)
          DataType.fromJson(snap.meta.getOrElse(
            throw new IllegalArgumentException(
              s"no metaData in $parent log"))._2).asInstanceOf[StructType]
        } else IcebergLite.schemaAt(spark, parent, -1L)
      return Some(new GraftChangesTable(
        s"$catName.${ident.namespace.mkString(".")}.changes", parent,
        if (isDelta) "delta" else "iceberg", baseSchema))
    }
    if (isIce && kind.startsWith("branch_")) {
      // X317: BRANCH-ADDRESSED table — `cat.db.t.branch_dev` reads the
      // branch head and takes `INSERT INTO` commits ON THE BRANCH (the
      // WAP write half of X302's ref reads; main untouched until
      // fastForward publishes). Tags refuse — they are immutable.
      require(version < 0,
        "VERSION AS OF on a branch-addressed table: the branch IS the " +
          "version coordinate — address one or the other")
      val branch = kind.stripPrefix("branch_")
      val (sid, refType) = IcebergLite.refInfo(spark, parent, branch)
      require(refType == "branch",
        s"ref $branch is a tag — tags are immutable; write to a branch")
      val schema = IcebergLite.schemaAt(spark, parent, sid)
      val pfOpt = IcebergLite.currentPartitionSpec(spark, parent)
      val morState =
        IcebergLite.snapshotDeleteFiles(spark, parent, sid).nonEmpty
      val s = spark
      val readDelegate: ReadPlan =
        if (morState) MorPlan(() => IcebergLite.read(s, parent, sid))
        else ParquetPlan(parquetTable(
          Identifier.of(ident.namespace, kind), schema,
          IcebergLite.snapshotFiles(s, parent, sid)))
      return Some(new GraftTable(
        s"$catName.${ident.namespace.mkString(".")}.$kind", parent,
        "iceberg", schema, Seq.empty, pfOpt, columnMapped = false,
        readDelegate, writable = true) {
        override protected def iceToBranch: Option[String] = Some(branch)
      })
    }
    val df =
      if (kind == "detail") {
        // DESCRIBE DETAIL's relation (X316): one operational-summary
        // row off the metadata layer alone — counts/bytes from the log
        // stats (Delta) or manifests (Iceberg), no data file opened
        val sp = spark
        import sp.implicits._
        if (isDelta) {
          val snap = DeltaLite.snapshotAt(spark, parent)
          val latest = snap.files.size.toLong
          val bytes = snap.files.map { f =>
            try fs.getFileStatus(
              new Path(DeltaLite.dataPath(parent, f))).getLen
            catch { case _: java.io.IOException => 0L }
          }.sum
          // numRecords off per-file log stats when every file carries
          // them; -1 (unknown) otherwise — never a data scan
          val rows =
            if (snap.files.nonEmpty &&
                snap.files.forall(snap.stats.contains)) {
              snap.files.map(f => DeltaLite.fileStats(snap.stats(f))
                .numRecords.getOrElse(-1L))
                .foldLeft(0L)((a, b) => if (a < 0 || b < 0) -1L else a + b)
            } else -1L
          Seq(("delta", latest, bytes,
            snap.partCols.mkString(","),
            DeltaLite.history(spark, parent).count(), rows))
            .toDF("format", "num_files", "size_in_bytes",
              "partition_columns", "num_versions", "num_records")
        } else {
          val (rows, bytes) = IcebergLite.tableSizeStats(spark, parent)
          val nFiles = IcebergLite.snapshotFiles(spark, parent, -1L)
            .size.toLong
          Seq(("iceberg", nFiles, bytes,
            IcebergLite.currentPartitionSpec(spark, parent)
              .map(pf => s"${pf.transform}(${pf.source})").getOrElse(""),
            IcebergLite.history(spark, parent).count()))
            .toDF("format", "num_files", "size_in_bytes",
              "partition_columns", "num_versions")
            .withColumn("num_records",
              org.apache.spark.sql.functions.lit(rows))
        }
      }
      else if (isIce && kind == "history") IcebergLite.history(spark, parent)
      else if (isIce && IceMetaKinds.contains(kind))
        IcebergLite.metadataTable(spark, parent, kind)
      else if (isDelta && kind == "history") DeltaLite.history(spark, parent)
      else throw new NoSuchTableException(ident)
    require(version < 0,
      s"VERSION AS OF on metadata table $kind: the relation is already " +
        "about history — query it unversioned")
    Some(new LocalRowsTable(
      s"$catName.${ident.namespace.mkString(".")}.$kind",
      df.schema, df.collect().toSeq))
  }

  private val IceMetaKinds =
    Set("snapshots", "manifests", "files", "refs", "partitions",
      "entries", "all_manifests", "all_files")

  private def loadDelta(ident: Identifier, path: String,
      version: Long): Table = {
    val s = spark
    val snap = DeltaLite.snapshotAt(s, path, version)
    val schema = DataType.fromJson(snap.meta.getOrElse(
      throw new IllegalArgumentException(s"no metaData in $path log"))._2)
      .asInstanceOf[StructType]
    val mapped = DeltaLite.isColumnMapped(schema)
    // the TABLE schema the analyzer binds against: logical names; in the
    // column-mapped parquet path it must KEEP the parquet.field.id
    // metadata (fieldIdReadSchema) or the pruned scan loses its binding
    // coordinate — the V1/MOR path reads through DeltaLite.read, which
    // surfaces plain logical names
    var tableSchema =
      if (mapped) StructType(schema.fields.map(_.copy(
        metadata = org.apache.spark.sql.types.Metadata.empty)))
      else schema
    val readDelegate: ReadPlan =
      if (snap.dvs.nonEmpty) {
        // live deletion vectors: a plain parquet scan would resurrect
        // deleted rows — serve the format reader's mask-filtered plan
        // through the V1 bridge (filters/pruning still push through)
        MorPlan(() => DeltaLite.read(s, path, version))
      } else {
        // column-mapped tables serve through FIELD-ID resolution: the
        // scan schema carries logical names + the Delta column id as
        // parquet.field.id, and Spark's reader binds by the footer ids
        // this implementation writes in both mapping modes — renames/
        // drops stay metadata-only AND SQL-visible. Requires the session
        // flag; a file without footer ids fails loudly at scan
        // (ignoreMissing=false), never resolves wrong.
        val scanSchema =
          if (!mapped) schema
          else {
            require(s.conf.getOption(
                "spark.sql.parquet.fieldId.read.enabled").contains("true"),
              s"$catName.$ident is column-mapped: SQL reads bind columns " +
                "by parquet field id — set spark.sql.parquet.fieldId." +
                "read.enabled=true (or read via DeltaLite.read)")
            DeltaLite.fieldIdReadSchema(schema)
          }
        tableSchema = scanSchema
        // add.path may be relative OR absolute (shallowClone writes
        // absolute source paths) — resolve like DeltaLite.dataPath
        ParquetPlan(parquetTable(ident, scanSchema,
          snap.files.map(f => DeltaLite.dataPath(path, f))))
      }
    if (version < 0 && snap.partCols.size <= 1)
      // the SQL row-level envelope holds: serve the table that also
      // speaks UPDATE / MERGE INTO / fallback DELETE (X284; partitioned
      // tables through the rolling write, X288; DV-carrying snapshots
      // through the masked tagged scan, X293; column-mapped tables via
      // field-id scans + physical-name staging, X294)
      new GraftDeltaTable(fullName(ident), path, tableSchema, snap.files,
        snap.partCols, readDelegate, snap.dvs, mapped)
    else
      new GraftTable(fullName(ident), path, "delta", tableSchema,
        snap.partCols, None, mapped, readDelegate, writable = version < 0)
  }

  private def loadIceberg(ident: Identifier, path: String,
      version: Long): Table = {
    val s = spark
    // pin ONE metadata version at load: the file list below and the MOR
    // mask the scan applies must describe the SAME snapshot, or a commit
    // landing between load and first scan pairs stale files with a fresh
    // mask (r15 advice — e.g. a compaction's new files arrive only in
    // the mask's dataSeq, and removed files read unmasked)
    val pinnedV = IcebergLite.latestMetadataVersion(s, path)
    val schema = IcebergLite.schemaAt(s, path, version)
    val pfOpt = IcebergLite.currentPartitionSpec(s, path)
    val morState = IcebergLite.snapshotDeleteFiles(s, path, version,
      metaV = pinnedV).nonEmpty
    lazy val snapFiles = IcebergLite.snapshotFiles(s, path, version,
      metaV = pinnedV)
    val readDelegate: ReadPlan =
      if (morState || IcebergLite.nameDrift(s, path, version))
        // merge-on-read state, or live files written under since-renamed
        // column names (X308): serve the format reader's plan through
        // the V1 bridge — it applies delete masks AND resolves each
        // file's parquet names through its write schema by field id
        MorPlan(() => IcebergLite.read(s, path, version))
      else if (version < 0 && pfOpt.isDefined && s.conf.getOption(
          "spark.sql.sources.v2.bucketing.enabled").contains("true"))
        // transform-partitioned table under Spark's V2 bucketing flag:
        // serve the key-grouped scan so joins between co-partitioned
        // catalog tables plan with NO exchange (storage-partitioned
        // join). Falls back to the stock split scan when the grouping
        // invariant doesn't hold (mixed partition specs).
        scala.util.Try(IcebergLite.snapshotFilesByPartition(s, path))
          .fold(
            _ => ParquetPlan(parquetTable(ident, schema, snapFiles)),
            grouped => KeyGroupedPlan(() =>
              new KeyGroupedScanBuilder(s, schema, grouped, pfOpt.get)))
      else
        ParquetPlan(parquetTable(ident, schema, snapFiles))
    if (version < 0)
      // the SQL row-level envelope holds (unpartitioned X285, identity
      // X290, hidden transforms X292 — the rolling writer recomputes
      // bucket/temporal/truncate values per replacement row; MERGE-ON-
      // READ delete state applied reader-side, X300): serve the table
      // that also speaks UPDATE / MERGE INTO / fallback DELETE,
      // committing through the manifest arbiter
      new GraftIcebergTable(fullName(ident), path, schema, snapFiles,
        pfOpt, readDelegate,
        // derived from the SAME pinned metadata version as snapFiles —
        // snapshot-consistent (files, mask); a delete landing after
        // load is seen by the NEXT catalog load, the usual isolation
        morMask = () => IcebergLite.morMask(s, path, -1L, pinnedV))
    else
      new GraftTable(fullName(ident), path, "iceberg", schema,
        Seq.empty, pfOpt, columnMapped = false,
        readDelegate, writable = version < 0)
  }

  // ---- procedures (maintenance verbs, X296) -----------------------------

  /** Spark 4's native `CALL $catName.system.<proc>('db.t', …)` path:
    * [[GraftProcedures]] serves rewrite_data_files / expire_snapshots /
    * vacuum, resolving the table under this catalog's warehouse. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"procedures live under $catName.system — got " +
        ident.namespace().mkString("."))
    GraftProcedures.load(warehouse, ident.name())
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.names
      .map(n => Identifier.of(Array("system"), n)).toArray

  // ---- functions (storage-partitioned-join resolution) -----------------

  /** The partition-transform functions ([[GraftFunctions]]): Spark loads
    * them from the TABLE's catalog to turn a scan-reported key-grouped
    * partitioning into comparable catalyst expressions — the resolution
    * step storage-partitioned joins hinge on. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    GraftFunctions.names.map(Identifier.of(namespace, _)).toArray

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    GraftFunctions.unbound(ident.name)

  private def fullName(ident: Identifier): String =
    s"$catName.${ident.namespace.mkString(".")}.${ident.name}"

  /** The planned live files as Spark's OWN parquet DSv2 table: the plan
    * below the catalog is a stock vectorized multi-path `BatchScan
    * parquet` with PushedFilters/ReadSchema — pinned by
    * GraftCatalogSpec. `recursiveFileLookup` suppresses hive-style
    * partition inference over staging dirs (`_p=…` carries a COPY of a
    * logical column, never data of its own). */
  private def parquetTable(ident: Identifier, schema: StructType,
      paths: Seq[String]): Table =
    ParquetTable(
      s"$catName.${ident.namespace.mkString(".")}.${ident.name}",
      spark,
      new CaseInsensitiveStringMap(
        Map("recursiveFileLookup" -> "true").asJava),
      paths,
      Some(schema),
      classOf[ParquetFileFormat])

  /** `CREATE TABLE` / CTAS (X275): provider `delta` (default) or
    * `iceberg` picks the format; the physical create is the format's own
    * DDL commit ([[DeltaLite.createTable]] — a v0 metadata-only log
    * entry; [[IcebergLite.createTable]] — an empty first snapshot), so
    * the created table is immediately readable (zero rows) and every
    * subsequent write — SQL or API — appends under it. Partitioning:
    * identity transforms declare Delta partition columns; `truncate(w,
    * col)` declares the Iceberg spec transform. Tables live in the
    * warehouse (external LOCATION refuses — the catalog owns its
    * layout). */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(
      Seq(catName) ++ ident.namespace.toSeq :+ ident.name)
    val props = properties.asScala
    props.get(TableCatalog.PROP_LOCATION).foreach(_ =>
      throw new UnsupportedOperationException(
        s"CREATE TABLE $catName.$ident: external LOCATION is outside " +
          "this subset — the catalog owns its warehouse layout"))
    val format = props.getOrElse(TableCatalog.PROP_PROVIDER, "delta")
      .toLowerCase(java.util.Locale.ROOT)
    val path = tablePath(ident)
    val declared = tableProperties(ident, format, props.toMap)
    format match {
      case "delta" =>
        val partCols = partitions.toSeq.map {
          case t if t.name == "identity" =>
            t.references.head.fieldNames.mkString(".")
          case other => throw new UnsupportedOperationException(
            s"CREATE TABLE $catName.$ident: Delta partitioning supports " +
              s"identity columns; got $other")
        }
        require(partCols.size <= 1,
          s"CREATE TABLE $catName.$ident: this subset partitions Delta " +
            "tables by one column")
        DeltaLite.createTable(spark, path, schema, partCols)
      case "iceberg" =>
        // SQL transform names → spec transforms: truncate(w,c), bucket(n,c),
        // years/months/days/hours(c) (Spark's plural SQL spellings map to
        // the spec's singular ordinals)
        val temporal = Map("years" -> "year", "months" -> "month",
          "days" -> "day", "hours" -> "hour")
        def intArg(t: Transform): Int = t.arguments.toSeq.collectFirst {
          case l: Literal[_] => l.value.toString.toInt }.getOrElse(
          throw new IllegalArgumentException(s"${t.name} needs a parameter"))
        def colArg(t: Transform): String = t.arguments.toSeq.collectFirst {
          case r: NamedReference => r.fieldNames.mkString(".") }.getOrElse(
          throw new IllegalArgumentException(s"${t.name} needs a column"))
        val spec = partitions.toSeq.map {
          case t if t.name == "identity" =>
            IcebergLite.PartField.identity(
              t.references.head.fieldNames.mkString("."))
          case t if t.name == "truncate" =>
            IcebergLite.PartField.truncate(colArg(t), intArg(t))
          case t if t.name == "bucket" =>
            IcebergLite.PartField.bucket(colArg(t), intArg(t))
          case t if temporal.contains(t.name) =>
            IcebergLite.PartField(colArg(t), temporal(t.name))
          case other => throw new UnsupportedOperationException(
            s"CREATE TABLE $catName.$ident: Iceberg partitioning supports " +
              s"identity/truncate/bucket/years/months/days/hours; got $other")
        }
        require(spec.size <= 1,
          s"CREATE TABLE $catName.$ident: this subset declares one " +
            "partition field")
        IcebergLite.createTable(spark, path, schema, spec.headOption)
      case other => throw new UnsupportedOperationException(
        s"CREATE TABLE $catName.$ident: provider must be delta or " +
          s"iceberg; got $other")
    }
    declared.foreach(_(path)) // TBLPROPERTIES as metadata commits (X299)
    loadTable(ident)
  }

  /** TBLPROPERTIES → the formats' METADATA-ONLY feature commits (X299):
    * `delta.enableChangeDataFeed=true`, `delta.appendOnly=true`, and
    * `delta.constraints.<name> = <expr>` lower to [[DeltaLite.enableCdf]]
    * / [[DeltaLite.setAppendOnly]] / [[DeltaLite.addConstraint]] — so
    * `CREATE TABLE … TBLPROPERTIES(…)` and
    * `ALTER TABLE … SET TBLPROPERTIES(…)` are the whole lifecycle SQL
    * needs; the properties Spark attaches itself (provider/owner/
    * comment) pass through, anything else refuses loudly rather than
    * silently dropping a declared behavior. Returns the appliers
    * (validated eagerly, applied after the physical create exists). */
  private def tableProperties(ident: Identifier, format: String,
      props: Map[String, String]): Seq[String => Unit] = {
    val passthrough = Set(TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_COMMENT, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_LOCATION, TableCatalog.PROP_EXTERNAL,
      "transient_lastDdlTime")
    props.toSeq.sortBy(_._1).filterNot(kv => passthrough(kv._1)).map {
      case ("delta.enableChangeDataFeed", v) =>
        require(format == "delta" && v == "true",
          s"$catName.$ident: delta.enableChangeDataFeed takes 'true' on " +
            "Delta tables")
        (path: String) => { DeltaLite.enableCdf(spark, path); () }
      case ("delta.appendOnly", v) =>
        require(format == "delta" && v == "true",
          s"$catName.$ident: delta.appendOnly takes 'true' on Delta tables")
        (path: String) => { DeltaLite.setAppendOnly(spark, path); () }
      case (k, expr) if k.startsWith("delta.constraints.") =>
        require(format == "delta",
          s"$catName.$ident: CHECK constraints are the Delta feature")
        (path: String) => {
          DeltaLite.addConstraint(spark, path,
            k.stripPrefix("delta.constraints."), expr); ()
        }
      case (k, _) => throw new UnsupportedOperationException(
        s"$catName.$ident: table property $k is outside this subset — " +
          "supported: delta.enableChangeDataFeed, delta.appendOnly, " +
          "delta.constraints.<name>")
    }
  }

  /** DROP TABLE: remove the table directory (data + log — the
    * HadoopCatalog model, where the directory IS the table). */
  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    fs.delete(new Path(tablePath(ident)), true)
  }

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"$op: schema/name changes go through the DeltaLite/IcebergLite " +
        "APIs (commit-through-the-log)")

  /** SQL `ALTER TABLE` (X287) — lowered to the formats' METADATA-ONLY
    * evolution commits, never a rewrite:
    *
    *   - `ADD COLUMNS (c TYPE)` → [[DeltaLite.addColumn]] (one widened
    *     metaData commit; mapped tables get fresh ids above
    *     maxColumnId) / [[IcebergLite.addColumn]] (new schema-id, no
    *     snapshot). Top-level, END-positioned, nullable columns — the
    *     evolution the formats make free.
    *   - `RENAME COLUMN` / `DROP COLUMN` → the Delta COLUMN MAPPING
    *     ops ([[DeltaLite.renameColumn]]/[[DeltaLite.dropColumn]]) —
    *     exactly the feature that makes them metadata-only; unmapped
    *     tables refuse loudly there with the remedy named.
    *
    * Everything else (type changes, repositioning, property edits)
    * keeps refusing — those either need a rewrite or live in the
    * format APIs. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val path = tablePath(ident)
    val isDelta = fs.exists(new Path(path, "_delta_log"))
    if (!isDelta && !fs.exists(new Path(path, "metadata")))
      throw new NoSuchTableException(ident)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"ALTER TABLE $catName.$ident: nested column adds are outside " +
            "this subset")
        require(add.position() == null,
          s"ALTER TABLE $catName.$ident: FIRST/AFTER positioning is " +
            "outside this subset — new columns land at the end")
        // a NOT NULL add would silently land nullable (both formats
        // write the widened column nullable, and pre-widening files
        // surface it as NULL anyway) — refuse rather than drop a
        // declared constraint without error
        require(add.isNullable,
          s"ALTER TABLE $catName.$ident: only NULLABLE column adds are " +
            "in this subset — a NOT NULL add cannot hold for " +
            "pre-widening files, which surface the new column as NULL")
        if (isDelta)
          DeltaLite.addColumn(spark, path, add.fieldNames.head, add.dataType())
        else
          IcebergLite.addColumn(spark, path, add.fieldNames.head,
            add.dataType())
      case rn: TableChange.RenameColumn =>
        // Delta: the column-mapping feature; Iceberg: NATIVE — schemas
        // are immutable and id-addressed, so a rename is a new
        // schema-id re-declaring the field under its new name (X308)
        require(rn.fieldNames.length == 1,
          s"ALTER TABLE $catName.$ident: nested column renames are " +
            "outside this subset")
        if (isDelta)
          DeltaLite.renameColumn(spark, path, rn.fieldNames.head, rn.newName)
        else
          IcebergLite.renameColumn(spark, path, rn.fieldNames.head,
            rn.newName)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          s"ALTER TABLE $catName.$ident: nested column drops are " +
            "outside this subset")
        if (isDelta) DeltaLite.dropColumn(spark, path, del.fieldNames.head)
        else IcebergLite.dropColumn(spark, path, del.fieldNames.head)
      case sp: TableChange.SetProperty =>
        // SET TBLPROPERTIES lowers to the same metadata-only feature
        // commits CREATE-time TBLPROPERTIES take (X299)
        tableProperties(ident, if (isDelta) "delta" else "iceberg",
          Map(sp.property -> sp.value)).foreach(_(path))
      case other => readOnly(s"ALTER TABLE ($other)")
    }
    loadTable(ident)
  }
  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = readOnly("RENAME TABLE")

  // ---- namespaces ------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) return Array.empty
    fs.listStatus(root).filter(_.isDirectory)
      .map(d => Array(d.getPath.getName)).sortBy(_.head)
  }

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    fs.exists(new Path((warehouse +: namespace.toSeq).mkString("/")))

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] =
    if (namespaceExists(namespace)) Map.empty[String, String].asJava
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    fs.mkdirs(new Path((warehouse +: namespace.toSeq).mkString("/")))
    ()
  }
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = readOnly("ALTER NAMESPACE")
  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = readOnly("DROP NAMESPACE")
}
