package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwriteV2, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{DeltaLite, IcebergLite, MorMask}

/** X276: one catalog table, BOTH planes. The DSv2 `Table` the
  * [[GraftCatalog]] serves: reads delegate to the plan the catalog chose
  * (stock vectorized `ParquetTable` for clean snapshots; the format
  * reader's merge-on-read mask-filtered plan through the sanctioned
  * [[V1Scan]] bridge when the snapshot carries deletion vectors or
  * position/equality deletes), and writes go through the DSv2 write
  * contract (`V1_BATCH_WRITE`) committing through the format's OWN
  * atomic arbiter — [[DeltaLite.write]]/[[DeltaLite.writePartitioned]]/
  * [[IcebergLite.write]], the exact staged-parquet + atomic-log-commit
  * discipline every API write uses. SQL `INSERT INTO` (append) and
  * `INSERT OVERWRITE` (truncating overwrite) thereby land as ordinary
  * versioned commits: concurrent SQL and API writers serialize on the
  * same log, and readers time-travel over SQL-written versions like any
  * other. This is the reference's core data-plane operation —
  * catalog-addressed `mode("overwrite")` / `mode("append")` writes
  * (`Sites/DataProc_Script/spark_ingest_slmandicprd.py:99-103,137-141`)
  * — re-expressed as Spark's own SQL write path.
  *
  * Scale notes: the V1 write bridge hands the WHOLE DataFrame to the
  * format writer — the data plane stays Spark's distributed parquet
  * write (executors write staged files; only the log commit is
  * driver-side), so a 100 TB INSERT behaves exactly like the API write.
  * The V1 read bridge (MOR snapshots only) keeps the format reader's
  * logical plan intact, so pushed filters and pruned columns reach the
  * underlying parquet scans through Catalyst below the mask filter —
  * [[DataFrameScanBuilder]] re-applies both on the DataFrame, where the
  * optimizer pushes them into the scan for free.
  */
private[v2] class GraftTable(
    tableName: String,
    path: String,
    format: String, // "delta" | "iceberg"
    logicalSchema: StructType,
    deltaPartCols: Seq[String],
    icePartition: Option[IcebergLite.PartField],
    columnMapped: Boolean,
    readDelegate: ReadPlan,
    writable: Boolean)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
  with org.apache.spark.sql.connector.catalog.TruncatableTable {

  /** SQL `TRUNCATE TABLE` (X314) — the supported spelling of "remove
    * every row": both formats commit it METADATA-ONLY (one remove-all /
    * empty-manifest-list commit, zero data I/O at any table size, which
    * is why bare `DELETE FROM t` stays refused in favor of this verb).
    * History is preserved — earlier versions still time-travel. */
  override def truncateTable(): Boolean = {
    require(writable,
      s"$tableName is not writable through SQL at a time-travel version")
    val spark = org.apache.spark.sql.SparkSession.active
    if (format == "delta") graft.sources.DeltaLite.truncate(spark, path)
    else IcebergLite.truncate(spark, path)
    true
  }

  /** SQL `DELETE FROM … WHERE <long-column range>` (X282): the predicate
    * lowers to the format's OWN row-level delete — [[DeltaLite
    * .deleteWhere]]'s stats-planned copy-on-write rewrite, or
    * [[IcebergLite.deleteWhere]]'s merge-on-read position-delete commit
    * (after which SQL reads keep working uncompacted, X276). Only
    * predicate shapes the formats' planners prune on are CLAIMED
    * (`canDeleteWhere`): a single long column under =, >,
    * >=, <, <=, BETWEEN-style conjunctions. Anything else — including
    * bare `DELETE FROM t` — refuses at analysis (Spark's own error),
    * never a silent full-table rewrite. */
  private def isTruncate(predicates: Array[Predicate]): Boolean =
    predicates.length == 1 && predicates.head.name() == "ALWAYS_TRUE"

  /** Overridden by the DV-carrying Delta table: X293's policy routes
    * deletes on such tables through vector merges, and X307 extends
    * that claim to IN lists. */
  protected def dvCarrying: Boolean = false

  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    writable && !columnMapped && (isTruncate(predicates) ||
      DeletePredicate.toRange(predicates, logicalSchema).isDefined ||
      // IN lists claim on Iceberg (X306: an equality-delete commit —
      // O(values) written, nothing read) and on DV-CARRYING Delta
      // tables (X307: positions of exact matches union into the
      // vectors). Plain Delta tables keep the row-level rewrite — a
      // claimed metadata path that secretly rewrites would lie.
      ((format != "delta" || dvCarrying) &&
        DeletePredicate.toInList(predicates, logicalSchema).isDefined))

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    if (isTruncate(predicates)) {
      // bare DELETE FROM t: one commit removing every live file (Delta)
      // / an empty overwrite snapshot (Iceberg) — no byte read
      format match {
        case "delta" =>
          val (files, _, _, _) = DeltaLite.rowLevelSnapshot(spark, path)
          DeltaLite.commitReplaceFiles(spark, path, files, Nil, "DELETE")
        case _ =>
          IcebergLite.write(spark,
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              logicalSchema),
            path, overwrite = true, operation = Some("delete"))
      }
      return
    }
    // `DELETE … WHERE k IN (…)` — the RTBF shape — takes the format's
    // point-delete fast path: an EQUALITY-delete commit on Iceberg
    // (X306: the value list IS the delete file, no scan, no rewrite) or
    // a deletion-vector merge on DV-carrying Delta (X307: exact-match
    // positions union into the vectors, kilobytes written)
    DeletePredicate.toInList(predicates, logicalSchema).foreach {
      case (column, values) =>
        if (format != "delta") {
          IcebergLite.deleteWhereEquality(spark, path, column, values)
          return
        } else if (dvCarrying) {
          DeltaLite.deleteValuesDV(spark, path, column, values)
          return
        }
    }
    val (column, lo, hi) = DeletePredicate.toRange(predicates, logicalSchema)
      .getOrElse(throw new UnsupportedOperationException(
        s"$tableName: DELETE supports a single long-column range " +
          "predicate — use the format APIs for other shapes"))
    format match {
      case "delta" =>
        // a table already carrying deletion vectors takes the DV route
        // (X293): new positions UNION into the existing vectors — one
        // kilobyte-scale commit, NO data-file rewrite (the reason DVs
        // exist; a COW remedy here would rewrite terabytes at 100 TB)
        if (DeltaLite.snapshotAt(spark, path).dvs.nonEmpty)
          DeltaLite.deleteWhereDV(spark, path, column, lo, hi)
        else DeltaLite.deleteWhere(spark, path, column, lo, hi)
      case _ => IcebergLite.deleteWhere(spark, path, column, lo, hi)
    }
    ()
  }

  override def name(): String = tableName

  override def schema(): StructType = logicalSchema

  override def partitioning(): Array[Transform] = {
    val delta = deltaPartCols.map(Expressions.identity)
    val ice = icePartition.toSeq.map { pf =>
      pf.kind match {
        case "identity" => Expressions.identity(pf.source)
        case "truncate" => Expressions.apply("truncate",
          Expressions.literal(Integer.valueOf(pf.param)),
          Expressions.column(pf.source))
        case "bucket" =>
          Expressions.bucket(pf.param, pf.source)
        case temporal => // year | month | day | hour
          Expressions.apply(temporal, Expressions.column(pf.source))
      }
    }
    (delta ++ ice).toArray
  }

  override def properties(): util.Map[String, String] =
    Map("provider" -> format).asJava

  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(TableCapability.BATCH_READ)
    if (writable) {
      caps.add(TableCapability.V1_BATCH_WRITE)
      caps.add(TableCapability.TRUNCATE)
      caps.add(TableCapability.OVERWRITE_BY_FILTER)
      // real `writeStream.toTable` (X286; partitioned via the rolling
      // epoch writers X295; column-mapped via physical-name staging X294)
      caps.add(TableCapability.STREAMING_WRITE)
      // `MERGE … WITH SCHEMA EVOLUTION` (X313): Spark widens the target
      // through catalog.alterTable(AddColumn) BEFORE planning the
      // rewrite — gated on clause AND capability, so plain MERGE never
      // auto-evolves
      caps.add(TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    }
    caps
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    readDelegate match {
      case ParquetPlan(parquet) =>
        parquet.asInstanceOf[SupportsRead].newScanBuilder(options)
      case MorPlan(plan) =>
        new DataFrameScanBuilder(tableName, plan, logicalSchema)
      case KeyGroupedPlan(mk) => mk()
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(writable,
      s"$tableName is not writable through SQL at a time-travel version " +
        "— write at the table's head")
    new WriteBuilder with SupportsOverwriteV2 {
      private var overwriteAll = false
      private var overwriteValue: Option[String] = None

      override def truncate(): WriteBuilder = { overwriteAll = true; this }

      override def overwrite(predicates: Array[Predicate]): WriteBuilder = {
        val alwaysTrue = predicates.isEmpty ||
          (predicates.length == 1 && predicates.head.name() == "ALWAYS_TRUE")
        if (alwaysTrue) { overwriteAll = true; return this }
        // STATIC single-partition overwrite (`INSERT OVERWRITE t
        // PARTITION (p = 'v') …`): one equality on the table's partition
        // column — a Delta identity column, or an Iceberg IDENTITY
        // transform's source (non-identity transforms have no static
        // PARTITION syntax) — replaces exactly that partition's files
        // in one commit; every other shape refuses
        // static partition values arrive as `=` or null-safe `<=>`
        val partSources = deltaPartCols ++
          icePartition.filter(_.kind == "identity").map(_.source)
        val value = predicates match {
          case Array(p) if p.name() == "=" || p.name() == "<=>" =>
            DeletePredicate.stringEquality(p, partSources)
          case _ => None
        }
        overwriteValue = Some(value.getOrElse(
          throw new UnsupportedOperationException(
            s"$tableName: INSERT OVERWRITE supports the full table or " +
              "ONE partition-column equality — use the format's " +
              "deletePartition/deleteWhere then INSERT INTO for other " +
              "shapes")))
        this
      }

      override def build(): Write = new V1Write
          with org.apache.spark.sql.connector.write
            .RequiresDistributionAndOrdering {
        // STREAMING epochs into a partitioned table cluster + sort by
        // the partition transform (SPARK-34183 honors this for
        // micro-batch writes), so the rolling epoch writers emit one
        // staged file per (task, value); the V1 BATCH path ignores the
        // interface (writePartitioned repartitions itself). Rolling is
        // correct without the sort — a plan that drops it degrades in
        // file count, never rows.
        private def streamPart: Option[IcebergLite.PartField] =
          deltaPartCols.headOption.map(IcebergLite.PartField.identity)
            .orElse(icePartition)
        override def requiredDistribution()
            : org.apache.spark.sql.connector.distributions.Distribution =
          streamPart match {
            case Some(pf) if !columnMapped =>
              org.apache.spark.sql.connector.distributions.Distributions
                .clustered(Array(GraftRowLevel.transformExpr(pf)))
            case _ => org.apache.spark.sql.connector.distributions
              .Distributions.unspecified()
          }
        override def requiredOrdering(): Array[
            org.apache.spark.sql.connector.expressions.SortOrder] =
          streamPart match {
            case Some(pf) if !columnMapped =>
              Array(Expressions.sort(GraftRowLevel.transformExpr(pf),
                org.apache.spark.sql.connector.expressions.SortDirection
                  .ASCENDING))
            case _ => Array.empty
          }

        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit =
              commitInsert(data, overwriteAll || overwrite, overwriteValue)
          }

        /** `writeStream.toTable` (X286; partitioned X295): executors
          * stage each epoch's parquet — ROLLING writers on partitioned
          * tables, one staged file per (task, transform value), each
          * reported with its value — and the driver commits through the
          * format's idempotent arbiter with partitionValues/manifest p0
          * declared, exactly-once under Structured Streaming's
          * at-least-once epoch redelivery. Append output mode only
          * (streaming truncate-per-epoch has no versioned-table story
          * worth telling; complete mode refuses with the remedy). */
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          require(!overwriteAll && overwriteValue.isEmpty,
            s"$tableName: streaming writes support APPEND output mode " +
              "only — aggressive modes go through foreachBatch")
          require(deltaPartCols.size <= 1,
            s"$tableName: streaming toTable writes at most one " +
              "partition column (the rolling-writer subset)")
          val streamPart =
            deltaPartCols.headOption.map(IcebergLite.PartField.identity)
              .orElse(icePartition)
          // column-mapped tables stage epochs under PHYSICAL names +
          // field ids (rows are positional — the X294 translation); the
          // translation is pure renaming, so the incoming column ORDER
          // must already be the table's (a swapped same-typed pair would
          // land silently wrong otherwise — refuse instead)
          if (columnMapped)
            require(info.schema().fieldNames
                .sameElements(logicalSchema.fieldNames),
              s"$tableName: streaming into a column-mapped table binds " +
                "columns positionally — align the query's column order " +
                "to the table schema")
          val epochSchema =
            if (columnMapped)
              DeltaLite.physicalWriteSchema(
                org.apache.spark.sql.SparkSession.active, path)
            else info.schema()
          // ledger keyed per query (info.queryId — stable across restarts
          // of a checkpointed query), so concurrent queries on one table
          // never share an epoch high-water mark
          new GraftStreamingWrite(path, epochSchema, format,
            info.queryId(), streamPart)
        }
      }
    }
  }

  /** The write's commit: align the incoming frame to the TABLE schema
    * (SQL inserts resolve by position; `Dataset.to` reconciles names,
    * order and types so the table schema stays authoritative), then
    * commit through the format's arbiter. Partitioned tables keep their
    * layout: the commit goes through the partitioned writer, so SQL
    * inserts and API writes produce indistinguishable versions. */
  private def commitInsert(data: DataFrame, overwrite: Boolean,
      overwriteValue: Option[String] = None): Unit = {
    val spark = data.sparkSession
    val aligned = data.to(logicalSchema)
    format match {
      case "delta" if columnMapped =>
        require(!overwrite && overwriteValue.isEmpty,
          s"$tableName: INSERT OVERWRITE on a column-mapped table is " +
            "outside this subset — use DeltaLite.writeColumnMapped")
        DeltaLite.writeColumnMapped(spark, aligned, path)
      case "delta" if deltaPartCols.isEmpty =>
        require(overwriteValue.isEmpty,
          s"$tableName is not partitioned — PARTITION overwrite needs a " +
            "partitioned table")
        DeltaLite.write(spark, aligned, path, overwrite = overwrite,
          collectStats = true)
      case "delta" =>
        require(deltaPartCols.size == 1,
          s"$tableName declares ${deltaPartCols.size} partition columns; " +
            "this subset writes one")
        DeltaLite.writePartitioned(spark, aligned, path, deltaPartCols.head,
          collectStats = true, overwrite = overwrite,
          replaceValue = overwriteValue)
      case "iceberg" if overwriteValue.isDefined =>
        IcebergLite.replacePartition(spark, aligned, path,
          overwriteValue.get)
        ()
      case "iceberg" =>
        require(!overwrite || iceToBranch.isEmpty,
          s"$tableName: INSERT OVERWRITE a branch is outside this " +
            "subset — append to the branch, or overwrite main")
        IcebergLite.write(spark, aligned, path, overwrite = overwrite,
          partitionField = icePartition, toBranch = iceToBranch)
      case other =>
        throw new IllegalStateException(s"unknown format $other")
    }
  }

  /** Branch-addressed tables (X317: `cat.db.t.branch_<name>`) override
    * this so INSERT commits land on the BRANCH head, main untouched. */
  protected def iceToBranch: Option[String] = None
}

/** The Delta table the catalog serves when the SQL row-level envelope
  * holds (at most ONE partition column, non-column-mapped, head
  * version): additionally speaks `SupportsRowLevelOperations` — SQL
  * `UPDATE`, `MERGE INTO`, and fallback `DELETE` for predicates
  * [[GraftTable.canDeleteWhere]] cannot claim — via the group-based
  * copy-on-write rewrite ([[GraftRowLevelOp]], X284; partitioned tables
  * via the clustering-required rolling write, X288), and declares the
  * `_file` metadata column those plans resolve their group coordinate
  * against. */
private[v2] final class GraftDeltaTable(
    tableName: String,
    path: String,
    logicalSchema: StructType,
    snapFiles: Seq[String],
    partCols: Seq[String],
    readDelegate: ReadPlan,
    dvs: Map[String, graft.sources.DeletionVectors.Descriptor] = Map.empty,
    mapped: Boolean = false)
  extends GraftTable(tableName, path, "delta", logicalSchema, partCols,
    None, columnMapped = mapped, readDelegate, writable = true)
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  override protected def dvCarrying: Boolean = dvs.nonEmpty

  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(GraftTable.FileMetadataColumn)

  /** The runtime group-filter subquery reads `_file` through the
    * REGULAR scan path — wrap the stock builder so a pruned schema
    * containing `_file` serves the file-tagged scan instead. */
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = super.capabilities()
    caps.add(TableCapability.MICRO_BATCH_READ) // readStream.table (X291)
    caps
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new FileAwareScanBuilder(org.apache.spark.sql.SparkSession.active,
      path, logicalSchema, snapFiles, super.newScanBuilder(options),
      mkStream = Some(rs =>
        new GraftTableStream(path, "delta", logicalSchema, rs,
          Option(options.get("maxFilesPerTrigger")).map(_.toInt))),
      dvPositions = () => DeltaLite.dvPositions(
        org.apache.spark.sql.SparkSession.active, path, dvs))

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new GraftRowLevelBuilder(tableName, path, logicalSchema, info,
      format = "delta",
      part = partCols.headOption.map(IcebergLite.PartField.identity),
      // column-mapped tables stage replacement files under PHYSICAL
      // names + field ids (X294), so id-bound reads keep resolving on
      // SQL-updated files; the scan side already binds by field id
      // (logicalSchema carries parquet.field.id for mapped tables)
      mapped = mapped)
}

/** The Iceberg twin of [[GraftDeltaTable]] (X285): when the SQL
  * row-level envelope holds (unpartitioned, no merge-on-read delete
  * state, head snapshot), the catalog's Iceberg table speaks `UPDATE` /
  * `MERGE INTO` / fallback `DELETE` through the SAME group-based
  * copy-on-write machinery — the only difference is the commit, which
  * lands through [[graft.sources.IcebergLite.commitReplaceFiles]]'s
  * manifest arbiter (untouched manifests carried by reference, one
  * `overwrite` snapshot) instead of the Delta log. */
private[v2] final class GraftIcebergTable(
    tableName: String,
    path: String,
    logicalSchema: StructType,
    snapFiles: Seq[String],
    icePart: Option[IcebergLite.PartField],
    readDelegate: ReadPlan,
    morMask: () => MorMask = () => MorMask.empty)
  extends GraftTable(tableName, path, "iceberg", logicalSchema, Seq.empty,
    icePart, columnMapped = false, readDelegate, writable = true)
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(GraftTable.FileMetadataColumn)

  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = super.capabilities()
    caps.add(TableCapability.MICRO_BATCH_READ) // readStream.table (X291)
    caps
  }

  // resolved once per loaded table instance (one statement sees one
  // consistent mask; the thunks below are hit 2-3× per DML plan, each
  // resolution costing control-plane reads + delete-file payload reads)
  private lazy val morMaskOnce: MorMask = morMask()

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new FileAwareScanBuilder(org.apache.spark.sql.SparkSession.active,
      path, logicalSchema, snapFiles, super.newScanBuilder(options),
      mkStream = Some(rs =>
        new GraftTableStream(path, "iceberg", logicalSchema, rs,
          Option(options.get("maxFilesPerTrigger")).map(_.toInt))),
      // merge-on-read state masks the `_file` tagged path too (X300):
      // a `_file` projection — the runtime group-filter subquery —
      // never serves position- or equality-deleted rows
      dvPositions = () => morMaskOnce.posByFile,
      eqMask = () => (morMaskOnce.eq, morMaskOnce.dataSeq))

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new GraftRowLevelBuilder(tableName, path, logicalSchema, info,
      format = "iceberg",
      // ANY transform kind (X292): the rolling writer recomputes the
      // hidden transform value per row, so bucket/day/… tables take
      // SQL UPDATE / MERGE with manifest p0 pruning intact
      part = icePart)
}

private[v2] object GraftTable {
  object FileMetadataColumn
      extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = "_file"
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.StringType
    override def isNullable: Boolean = false
    override def comment(): String =
      "file the row lives in (row-level operation group coordinate)"
  }
}

/** How the catalog serves a snapshot's reads: the stock vectorized
  * parquet DSv2 table (clean snapshots), the format reader's
  * merge-on-read plan through the V1 bridge (live DV/delete state), or
  * the key-grouped parquet scan (bucket/transform-partitioned tables
  * under `spark.sql.sources.v2.bucketing.enabled` — the
  * storage-partitioned-join path, [[KeyGroupedParquetScan]]). */
private[v2] sealed trait ReadPlan
private[v2] final case class ParquetPlan(table: Table) extends ReadPlan
private[v2] final case class MorPlan(plan: () => DataFrame) extends ReadPlan
private[v2] final case class KeyGroupedPlan(mk: () => ScanBuilder)
  extends ReadPlan

/** The V1 read bridge for merge-on-read snapshots: wraps the format
  * reader's DataFrame (a LOGICAL plan — parquet scans + the shared
  * merge-on-read mask filter) as a DSv2 scan. Column pruning and filter
  * pushdown are applied ON the DataFrame, where Catalyst pushes them
  * into the underlying parquet scans — the pruned/filtered
  * plan is then executed as-is (`queryExecution.toRdd`, no row
  * conversion). Filters the V1 `Filter` algebra can't express re-apply
  * above the scan (Spark's standard V1 re-evaluation), so the bridge is
  * never wrong, only occasionally less pushed. */
private[v2] final class DataFrameScanBuilder(
    tableName: String,
    plan: () => DataFrame,
    fullSchema: StructType)
  extends ScanBuilder
  with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => FilterToColumn(f).isDefined)
    // hand EVERY filter back for re-evaluation above: the pushed subset
    // prunes the scan, the engine's recheck keeps semantics exact
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
  }

  override def build(): Scan = {
    val readSchema0 = required
    val pushed0 = pushed
    new V1Scan {
      override def readSchema(): StructType = readSchema0

      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T = {
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = readSchema0
          override def needConversion: Boolean = false
          override def buildScan(): RDD[Row] = {
            val df0 = plan()
            val filtered = pushed0.flatMap(FilterToColumn(_))
              .foldLeft(df0)(_ where _)
            val projected = filtered.select(readSchema0.fieldNames.toIndexedSeq
              .map(org.apache.spark.sql.functions.col): _*)
            // needConversion=false: the engine consumes InternalRow
            projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
          }
        }.asInstanceOf[T]
      }
    }
  }
}

/** Lowers SQL DELETE predicates to the formats' (column, lo, hi) range
  * contract. Claims ONLY what the stats planners prune exactly: every
  * conjunct must constrain the SAME long column, and together they must
  * pin a closed range — `k = v`, `k BETWEEN a AND b` (an AND of bounds),
  * one-sided bounds (the open side saturates to Long.Min/Max). Returns
  * None for anything else, which makes `canDeleteWhere` refuse. */
private[v2] object DeletePredicate {
  import org.apache.spark.sql.connector.{expressions => vexpr}
  import org.apache.spark.sql.connector.expressions.Expression
  import org.apache.spark.sql.types.LongType

  /** `p = 'value'` over one of `partCols` → the partition value a
    * static `INSERT OVERWRITE … PARTITION` replaces. */
  def stringEquality(p: Predicate,
      partCols: Seq[String]): Option[String] = p.children() match {
    case Array(r: vexpr.NamedReference, l: vexpr.Literal[_])
        if partCols.contains(r.fieldNames.mkString(".")) =>
      Some(String.valueOf(l.value))
    case Array(l: vexpr.Literal[_], r: vexpr.NamedReference)
        if partCols.contains(r.fieldNames.mkString(".")) =>
      Some(String.valueOf(l.value))
    case _ => None
  }

  /** `k IN (v1, …, vn)` over a single long column → the value list an
    * Iceberg EQUALITY-delete commit claims (X306): the right-to-be-
    * forgotten shape — O(values) written, nothing read or rewritten. */
  def toInList(predicates: Array[Predicate],
      schema: StructType): Option[(String, Seq[Long])] = {
    if (predicates.length != 1 || predicates.head.name() != "IN") return None
    val children = predicates.head.children()
    children.headOption match {
      case Some(r: vexpr.NamedReference) =>
        val col = r.fieldNames.mkString(".")
        if (!schema.fields.exists(f =>
            f.name == col && f.dataType == LongType)) return None
        val values = children.tail.toSeq.map {
          case l: vexpr.Literal[_] if l.dataType == LongType &&
              l.value != null =>
            l.value.asInstanceOf[Number].longValue()
          case _ => return None
        }
        if (values.isEmpty) None else Some((col, values))
      case _ => None
    }
  }

  def toRange(predicates: Array[Predicate],
      schema: StructType): Option[(String, Long, Long)] = {
    // every top-level predicate is a conjunct; flatten nested ANDs
    def conjuncts(p: Predicate): Seq[Predicate] = p.name() match {
      case "AND" => p.children().toSeq.collect { case c: Predicate => c }
        .flatMap(conjuncts)
      case _ => Seq(p)
    }
    val leaves = predicates.toSeq.flatMap(conjuncts)
    if (leaves.isEmpty) return None // bare DELETE FROM t: refuse
    // each leaf → (column, lo, hi) contribution
    def colLit(children: Array[Expression])
        : Option[(String, Long, Boolean)] = children match {
      case Array(r: vexpr.NamedReference, l: vexpr.Literal[_])
          if l.dataType == LongType =>
        Some((r.fieldNames.mkString("."),
          l.value.asInstanceOf[Number].longValue(), false))
      case Array(l: vexpr.Literal[_], r: vexpr.NamedReference)
          if l.dataType == LongType =>
        Some((r.fieldNames.mkString("."),
          l.value.asInstanceOf[Number].longValue(), true)) // flipped
      case _ => None
    }
    val bounds = leaves.map { p =>
      colLit(p.children()).flatMap { case (c, v, flipped) =>
        val op = p.name() match {
          case op0 @ (">" | ">=" | "<" | "<=") if flipped =>
            // 5 < k ≡ k > 5: mirror the operator
            op0 match { case ">" => "<"; case ">=" => "<="
              case "<" => ">"; case _ => ">=" }
          case op0 => op0
        }
        op match {
          case "=" => Some((c, v, v))
          case ">" => Some((c, math.addExact(v, 1), Long.MaxValue))
          case ">=" => Some((c, v, Long.MaxValue))
          case "<" => Some((c, Long.MinValue, math.subtractExact(v, 1)))
          case "<=" => Some((c, Long.MinValue, v))
          case _ => None
        }
      }
    }
    if (bounds.exists(_.isEmpty)) return None
    val bs = bounds.flatten
    val col = bs.head._1
    if (!bs.forall(_._1 == col)) return None
    if (!schema.fields.exists(f => f.name == col && f.dataType == LongType))
      return None
    val lo = bs.map(_._2).max
    val hi = bs.map(_._3).min
    Some((col, lo, hi))
  }
}

/** V1 `Filter` → `Column` (the pushable subset). Anything untranslated
  * simply isn't pushed — Spark re-evaluates all filters above the V1
  * scan, so omission is safe. */
private[v2] object FilterToColumn {
  import org.apache.spark.sql.functions.{col, lit, not}
  import org.apache.spark.sql.Column

  def apply(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.And(l, r) => for (lc <- apply(l); rc <- apply(r)) yield lc && rc
    case sources.Or(l, r) => for (lc <- apply(l); rc <- apply(r)) yield lc || rc
    case sources.Not(c) => apply(c).map(not)
    case _ => None
  }
}
