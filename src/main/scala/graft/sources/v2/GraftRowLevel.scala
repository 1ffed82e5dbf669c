package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{FilePartition, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.sources.{DeltaLite, FileKey, IcebergLite, MorMask}

/** X284: SQL `UPDATE` and `MERGE INTO` through the catalog — Spark's
  * GROUP-BASED row-level-operation contract (`SupportsRowLevelOperations`,
  * the machinery Iceberg's Spark integration uses) implemented as a
  * Delta copy-on-write rewrite:
  *
  *   1. Spark's rewrite rules turn `UPDATE`/`MERGE`/fallback-`DELETE`
  *      into a ReplaceData plan: read the AFFECTED GROUPS (files), apply
  *      the modifications, write the replacement rows back.
  *   2. The operation's SCAN is a real parquet batch scan over the
  *      pinned snapshot — ONE input partition per file, each row tagged
  *      with its `_file` coordinate by a thin reader wrapper — and it
  *      implements RUNTIME GROUP FILTERING (`SupportsRuntimeV2Filtering`
  *      on `_file`): Spark runs the group-filter subquery first, hands
  *      the affected file set to the scan, and only those files are
  *      read and rewritten — O(touched), never O(table).
  *   3. The operation's WRITE is a real DSv2 BatchWrite: executors
  *      stream replacement rows into commit-private staged parquet
  *      (Spark's own `ParquetUtils.prepareWrite` writer factory), and
  *      the driver commit swaps removes(affected) + adds(staged) as ONE
  *      log version through [[DeltaLite]]'s arbiter, with fresh
  *      long-column stats so skipping keeps working on SQL-updated
  *      files. Failed/speculative attempts abort their own file; the
  *      commit lists only files the SUCCEEDED writers reported.
  *
  * Envelope (`format = "delta"`): at most one partition column (the
  * rolling-writer subset); DELETION-VECTOR-carrying snapshots serve
  * through the masked tagged scan (X293 — the rewrite starts from live
  * rows); COLUMN-MAPPED tables scan by parquet field id and stage
  * replacements under physical names (X294). The snapshot is pinned
  * LAZILY at first execution, so claimable DELETEs still take the
  * metadata fast path without touching it. With `format = "iceberg"`
  * (X285) the SAME machinery commits through
  * [[IcebergLite.commitReplaceFiles]]'s manifest arbiter instead —
  * untouched manifests carried by reference, one `overwrite` snapshot;
  * partitioned tables of ANY transform kind cluster replacement rows by
  * the transform value (X290 identity, X292 hidden). */
private[v2] final class GraftRowLevelBuilder(
    tableName: String,
    path: String,
    tableSchema: StructType,
    info: RowLevelOperationInfo,
    format: String = "delta",
    part: Option[IcebergLite.PartField] = None,
    mapped: Boolean = false)
  extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new GraftRowLevelOp(tableName, path, tableSchema, info, format, part,
      mapped)
}

private[v2] final class GraftRowLevelOp(
    tableName: String,
    path: String,
    tableSchema: StructType,
    info: RowLevelOperationInfo,
    format: String,
    part: Option[IcebergLite.PartField],
    mapped: Boolean = false)
  extends RowLevelOperation {

  private def spark = SparkSession.active

  // ONE snapshot pins both the scan and the commit — resolved lazily so
  // plans that end up metadata-only never pay (or refuse) it. Delta
  // files are log-relative; Iceberg files are the manifests' absolute
  // paths (FileTaggedScan resolves both, the dataPath rule). The delete
  // state rides along as reader-side masks: Delta deletion vectors as
  // per-file positions (X293), Iceberg merge-on-read state as
  // sequence-gated positions PLUS equality-delete values (X300) — the
  // operation's scan SKIPS masked rows, so a COW rewrite starts from
  // LIVE rows and the remove+add swap never resurrects deleted ones.
  private lazy val pinned: (Seq[String], Map[String, Array[Long]],
      MorMask,
      Map[String, graft.sources.DeletionVectors.Descriptor]) = format match {
    case "delta" =>
      val (files, dvs, _, _) = DeltaLite.rowLevelSnapshot(spark, path)
      (files, DeltaLite.dvPositions(spark, path, dvs),
        MorMask.empty, dvs)
    case _ =>
      val (files, _, mask) = IcebergLite.rowLevelSnapshot(spark, path)
      (files, mask.posByFile, mask, Map.empty)
  }
  private def snapFiles: Seq[String] = pinned._1
  private def dvPositions: Map[String, Array[Long]] = pinned._2
  private def morMask: MorMask = pinned._3
  // the Delta DV descriptors live at the pin — the commit refuses if a
  // concurrent deleteWhereDV changed any removed file's mask (the Delta
  // twin of Iceberg's pinnedDeleteFiles, see ADVICE r15 medium)
  private def deltaDvPin: Map[String, graft.sources.DeletionVectors
    .Descriptor] = pinned._4

  // the affected file set (basenames) the runtime group filter found;
  // None = filtering never ran → every live file is affected
  @volatile private var affected: Option[Set[String]] = None

  private def affectedFiles: Seq[String] = affected match {
    case Some(names) =>
      snapFiles.filter(f => names.contains(FileKey(f)))
    case None => snapFiles
  }

  override def command(): RowLevelOperation.Command = info.command()

  override def description(): String =
    s"graft copy-on-write ${info.command()} on $tableName"

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))

  override def newScanBuilder(options: org.apache.spark.sql.util
      .CaseInsensitiveStringMap): ScanBuilder = new ScanBuilder
      with SupportsPushDownRequiredColumns {
    private val fullSchema = tableSchema.add("_file", StringType)
    private var required: StructType = fullSchema

    override def pruneColumns(requiredSchema: StructType): Unit = {
      required = requiredSchema
    }

    override def build(): Scan = new RowLevelScan(required)
  }

  /** The operation's scan: [[FileTaggedScan]] over the pinned
    * snapshot, plus RUNTIME GROUP FILTERING — the group-filter
    * subquery's `_file IN (…)` verdict narrows the scan AND the
    * commit's remove set. An unintelligible filter keeps every group
    * (conservative, never wrong). */
  private final class RowLevelScan(readSchema0: StructType)
    extends FileTaggedScan(spark, path, tableSchema, readSchema0,
      () => affectedFiles, Array.empty, () => dvPositions,
      () => (morMask.eq, morMask.dataSeq))
    with SupportsRuntimeV2Filtering {

    override def description(): String =
      s"graft row-level scan of $tableName " +
        s"(${affected.map(_.size.toString).getOrElse("all")} groups)"

    override def filterAttributes(): Array[NamedReference] =
      Array(Expressions.column("_file"))

    override def filter(predicates: Array[Predicate]): Unit = {
      import org.apache.spark.sql.connector.{expressions => vexpr}
      val names = scala.collection.mutable.Set.empty[String]
      var understood = false
      predicates.foreach { p =>
        if (p.name() == "IN" || p.name() == "=") {
          val isFile = p.children().exists {
            case r: vexpr.NamedReference =>
              r.fieldNames.mkString(".") == "_file"
            case _ => false
          }
          if (isFile) {
            understood = true
            p.children().foreach {
              case l: vexpr.Literal[_] if l.value != null =>
                names += String.valueOf(l.value)
              case _ =>
            }
          }
        }
      }
      if (understood) affected = Some(names.toSet)
    }
  }

  override def newWriteBuilder(writeInfo: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = part match {
        case Some(pf) =>
          // partitioned replacement (X288/X292): demand the engine
          // CLUSTER and SORT the replacement rows by the partition
          // TRANSFORM value — identity is the plain column; hidden
          // transforms (bucket/days/…) resolve through the catalog's
          // own FunctionCatalog ([[GraftFunctions]]), the same
          // machinery storage-partitioned joins use — so the rolling
          // writers below emit one staged file per (task, transform
          // value) and every add action can carry its partitionValues.
          // Manifest-grain pruning keeps working on SQL-rewritten
          // partitions, hidden or not.
          new Write with org.apache.spark.sql.connector.write
              .RequiresDistributionAndOrdering {
            override def requiredDistribution()
                : org.apache.spark.sql.connector.distributions.Distribution =
              org.apache.spark.sql.connector.distributions.Distributions
                .clustered(Array(GraftRowLevel.transformExpr(pf)))
            override def requiredOrdering(): Array[
                org.apache.spark.sql.connector.expressions.SortOrder] =
              Array(Expressions.sort(GraftRowLevel.transformExpr(pf),
                org.apache.spark.sql.connector.expressions.SortDirection
                  .ASCENDING))
            override def toBatch: BatchWrite = new GraftReplaceBatchWrite(
              spark, path, tableSchema, () => affectedFiles,
              info.command().toString, format, part, mapped,
              pinnedDeletes = () => morMask.deleteFiles,
              pinnedDvs = () => deltaDvPin)
          }
        case None => new Write {
          override def toBatch: BatchWrite = new GraftReplaceBatchWrite(
            spark, path, tableSchema, () => affectedFiles,
            info.command().toString, format, mapped = mapped,
            pinnedDeletes = () => morMask.deleteFiles,
            pinnedDvs = () => deltaDvPin)
        }
      }
    }
}

/** A parquet batch scan over explicit files where each row is tagged
  * with its `_file` basename — the coordinate the row-level rewrite
  * plans group on. Used by the operation's own scan AND by the regular
  * read path when a plan (the runtime group-filter subquery) asks for
  * `_file`. */
private[v2] class FileTaggedScan(
    spark: SparkSession,
    path: String,
    tableSchema: StructType,
    readSchema0: StructType,
    filesProvider: () => Seq[String],
    pushed: Array[org.apache.spark.sql.sources.Filter],
    dvPositions: () => Map[String, Array[Long]] = () => Map.empty,
    eqMask: () => (Seq[graft.sources.EqVals], Map[String, Long]) =
      () => (Nil, Map.empty))
  extends Scan with Batch {

  override def readSchema(): StructType = readSchema0

  override def toBatch: Batch = this

  override def description(): String =
    s"graft file-tagged parquet scan of $path"

  override def planInputPartitions(): Array[InputPartition] = {
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    filesProvider().zipWithIndex.map { case (f, idx) =>
      val abs = new Path(path, f)
      val len = fs.getFileStatus(abs).getLen
      FilePartition(idx, Array(PartitionedFile(InternalRow.empty,
        SparkPath.fromPath(abs), 0L, len,
        Array.empty[String]))): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val dataCols =
      StructType(readSchema0.fields.filterNot(_.name == "_file"))
    val dvs = dvPositions()
    // position masking counts file row positions — row-group skipping
    // would desynchronize the counter, so the two must never combine
    // (equality masking is value-based and indifferent to skipping)
    require(dvs.isEmpty || pushed.isEmpty,
      "deletion-vector masking excludes row-group pushdown")
    val (eqs, dataSeq) = eqMask()
    // equality masking compares row VALUES — a pruned projection that
    // dropped an equality column reads it back internally; the tagging
    // reader's output permutation never surfaces it
    val innerCols = eqs.flatMap(_.cols).distinct
      .filterNot(dataCols.fieldNames.contains)
      .foldLeft(dataCols)((s, c) => s.add(tableSchema(c)))
    new FileTaggingReaderFactory(
      GraftParquetReaders.factory(spark, tableSchema, innerCols, pushed),
      readSchema0, innerCols, dvs, eqs, dataSeq)
  }
}

/** The regular-read ScanBuilder of a row-level-capable table: delegates
  * everything to the stock builder, EXCEPT when the pruned schema asks
  * for `_file` (the runtime group-filter subquery does) — then it
  * serves the [[FileTaggedScan]]. Filter pushdown is forwarded to the
  * delegate (file sources always re-evaluate data filters above the
  * scan, so whichever scan wins stays exact); the tagged scan receives
  * the V1-translatable subset for row-group skipping. */
private[v2] final class FileAwareScanBuilder(
    spark: SparkSession,
    path: String,
    tableSchema: StructType,
    files: Seq[String],
    inner: ScanBuilder,
    mkStream: Option[StructType =>
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream] = None,
    dvPositions: () => Map[String, Array[Long]] = () => Map.empty,
    eqMask: () => (Seq[graft.sources.EqVals], Map[String, Long]) =
      () => (Nil, Map.empty))
  extends ScanBuilder
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  with SupportsPushDownRequiredColumns {

  private var exprFilters: Seq[org.apache.spark.sql.catalyst.expressions
    .Expression] = Nil
  private var required: StructType = tableSchema
  private var wantsFile = false

  override def pushFilters(filters: Seq[org.apache.spark.sql.catalyst
      .expressions.Expression]): Seq[org.apache.spark.sql.catalyst
      .expressions.Expression] = {
    exprFilters = filters
    inner match {
      case s: org.apache.spark.sql.internal.connector
          .SupportsPushDownCatalystFilters => s.pushFilters(filters)
      case _ => filters
    }
  }

  override def pushedFilters(): Array[Predicate] = inner match {
    case s: org.apache.spark.sql.internal.connector
        .SupportsPushDownCatalystFilters => s.pushedFilters
    case _ => Array.empty[Predicate]
  }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    wantsFile = requiredSchema.fieldNames.contains("_file")
    required = requiredSchema
    inner match {
      case s: SupportsPushDownRequiredColumns => s.pruneColumns(
        StructType(requiredSchema.fields.filterNot(_.name == "_file")))
      case _ =>
    }
  }

  override def build(): Scan =
    if (!wantsFile) inner.build() match {
      // the merge-on-read V1 bridge resolves through the V1Scan
      // interface — wrapping would hide it (and MOR snapshots refuse
      // to stream anyway)
      case v1: org.apache.spark.sql.connector.read.V1Scan => v1
      case b => mkStream.fold(b)(mk => new StreamCapableScan(b, mk))
    }
    else
      // no row-group pushdown on the tagged path: Spark re-evaluates
      // every data filter above the scan (file-source contract), and
      // this path serves only the control-plane-sized group-filter
      // subquery — correctness first, the stock path keeps its pushdown.
      // Deletion vectors / merge-on-read state mask here too, so a
      // `_file` projection never serves deleted rows.
      new FileTaggedScan(spark, path, tableSchema, required, () => files,
        Array.empty, dvPositions, eqMask)
}

/** Wraps the stock parquet reader: each partition holds ONE file, and
  * every row gains that file's basename at the `_file` position of the
  * requested schema. Rows whose file-position appears in that file's
  * DELETION VECTOR are SKIPPED (the positions are file row indexes; a
  * whole-file partition read row-by-row visits rows in file order, so a
  * running counter IS the row index — which is why this path never
  * takes row-group-skipping pushdown). Row-based (the wrapper disables
  * columnar). */
private[v2] final class FileTaggingReaderFactory(
    inner: PartitionReaderFactory,
    outSchema: StructType,
    dataCols: StructType,
    dvPositions: Map[String, Array[Long]] = Map.empty,
    eqDeletes: Seq[graft.sources.EqVals] = Nil,
    dataSeq: Map[String, Long] = Map.empty)
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    false

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val fp = partition.asInstanceOf[FilePartition]
    val tagStr = FileKey(fp.files.head.toPath.toString)
    val tag = UTF8String.fromString(tagStr)
    val masked = dvPositions.getOrElse(tagStr, Array.empty[Long]) // sorted
    val dataIdx = dataCols.fieldNames.zipWithIndex.toMap
    // output position → source data position (-1 = the _file tag)
    val perm = outSchema.fields.map(f => dataIdx.getOrElse(f.name, -1))
    val types = dataCols.fields.map(_.dataType)
    // equality deletes applicable to THIS file: sequence strictly above
    // the file's own data sequence (X300) — N-column tuple sets, one
    // membership check per delete file (X305 closed executor-side)
    val fileSeq = dataSeq.getOrElse(tagStr, Long.MaxValue)
    val eqChecks: Array[graft.sources.EqVals.Check] =
      graft.sources.EqVals.checks(
        eqDeletes.filter(_.seq > fileSeq)
          .map(ev => (ev.cols.map(dataIdx).toArray, ev.tuples)),
        types)
    val ir = inner.createReader(partition)
    new PartitionReader[InternalRow] {
      private var rowIdx = -1L
      private var mi = 0
      private def eqDead(): Boolean =
        eqChecks.nonEmpty && graft.sources.EqVals.hit(ir.get(), eqChecks)
      override def next(): Boolean = {
        while (ir.next()) {
          rowIdx += 1
          while (mi < masked.length && masked(mi) < rowIdx) mi += 1
          if ((mi >= masked.length || masked(mi) != rowIdx) && !eqDead())
            return true
        }
        false
      }
      override def get(): InternalRow = {
        val r = ir.get()
        val out = new GenericInternalRow(perm.length)
        var i = 0
        while (i < perm.length) {
          val j = perm(i)
          out(i) = if (j < 0) tag
            else if (r.isNullAt(j)) null
            else r.get(j, types(j))
          i += 1
        }
        out
      }
      override def close(): Unit = ir.close()
    }
  }
}

/** The replacement write: executors stream rows into commit-private
  * staged parquet via Spark's own parquet writer factory; the driver
  * commit removes the affected files and adds exactly the files the
  * succeeded writers reported — through the Delta log arbiter or the
  * Iceberg manifest arbiter, per `format`. */
private[v2] final class GraftReplaceBatchWrite(
    spark: SparkSession,
    path: String,
    schema: StructType,
    removeFiles: () => Seq[String],
    operation: String,
    format: String = "delta",
    part: Option[IcebergLite.PartField] = None,
    mapped: Boolean = false,
    pinnedDeletes: () => Set[String] = () => Set.empty,
    pinnedDvs: () => Map[String, graft.sources.DeletionVectors.Descriptor] =
      () => Map.empty)
  extends BatchWrite {

  private val token = java.util.UUID.randomUUID().toString.take(8)
  private val stagedRel = s"data/rlo-$token"

  override def createBatchWriterFactory(
      physInfo: PhysicalWriteInfo): DataWriterFactory = {
    // column-mapped tables stage under PHYSICAL names + parquet field
    // ids (replacement rows are positional, so renaming the writer
    // schema's fields in place is the whole translation — X294)
    val writeSchema =
      if (mapped) DeltaLite.physicalWriteSchema(spark, path) else schema
    val conf = spark.sessionState.newHadoopConf()
    val job = org.apache.hadoop.mapreduce.Job.getInstance(conf)
    val factory = org.apache.spark.sql.execution.datasources.parquet
      .ParquetUtils.prepareWrite(spark.sessionState.conf, job, writeSchema,
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetOptions(
          org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(
            Map.empty[String, String]), spark.sessionState.conf))
    val serConf = new SerializableConfiguration(job.getConfiguration)
    part match {
      case Some(pf) => new GraftRollingParquetWriterFactory(
        s"$path/$stagedRel", writeSchema, pf, factory, serConf)
      case None => new GraftParquetWriterFactory(s"$path/$stagedRel",
        writeSchema, factory, serConf)
    }
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val added = messages.collect {
      case GraftWrittenFile(name) if name != null => s"$stagedRel/$name"
    }.toSeq.sorted
    val partFiles = messages.collect {
      case GraftWrittenPartFiles(files) => files
    }.flatten.toSeq.sortBy(_._1)
    val addedAll = added ++ partFiles.map(f => s"$stagedRel/${f._1}")
    val pvals: Map[String, Map[String, String]] = part match {
      case Some(pf) =>
        // Delta partitionValues key by the partition COLUMN (identity
        // only); Iceberg manifests record the TRANSFORM value as p0
        partFiles.map(f =>
          s"$stagedRel/${f._1}" -> Map(pf.source -> f._2)).toMap
      case None => Map.empty
    }
    format match {
      case "delta" =>
        DeltaLite.commitReplaceFiles(spark, path, removeFiles(), addedAll,
          operation, pvals,
          // the DV descriptors known at pin: commit refuses loudly if a
          // concurrent deleteWhereDV re-masked a removed file in the
          // pin-to-commit window (liveness alone passes — the path
          // stays live across a DV remove+re-add)
          pinnedDvs = Some(pinnedDvs()))
      case _ =>
        // the spec's operation for replacing rows is `overwrite`,
        // whatever SQL verb drove it; identity-partitioned tables carry
        // each rolling file's raw value as its manifest p0
        IcebergLite.commitReplaceFiles(spark, path, removeFiles(), addedAll,
          "overwrite",
          partitionValues = partFiles
            .map(f => s"$stagedRel/${f._1}" -> f._2).toMap,
          // the delete files known at pin: commit refuses loudly if a
          // conflicting delete landed in the pin-to-commit window (X300)
          pinnedDeleteFiles = Some(pinnedDeletes()))
    }
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(path, stagedRel), true)
    ()
  }
}

private[v2] object GraftRowLevel {
  /** The V2 expression the replacement write clusters/sorts by — the
    * partition TRANSFORM, not just its source column. Hidden transforms
    * (`bucket`, `truncate`, temporal ordinals) resolve to catalyst
    * through the catalog's [[GraftFunctions]] (the SPJ resolution path),
    * so replacement rows arrive at the rolling writers grouped by the
    * value the manifests will record. */
  def transformExpr(pf: IcebergLite.PartField)
      : org.apache.spark.sql.connector.expressions.Expression =
    pf.kind match {
      case "identity" => Expressions.identity(pf.source)
      case "bucket" => Expressions.bucket(pf.param, pf.source)
      case "truncate" => Expressions.apply("truncate",
        Expressions.literal(pf.param), Expressions.column(pf.source))
      case "year" => Expressions.years(pf.source)
      case "month" => Expressions.months(pf.source)
      case "day" => Expressions.days(pf.source)
      case "hour" => Expressions.hours(pf.source)
      case other => throw new UnsupportedOperationException(
        s"transform $other has no write distribution")
    }
}

private[v2] final case class GraftWrittenFile(name: String)
  extends WriterCommitMessage

/** (file name, partition value) pairs a ROLLING writer reported — the
  * value rides with the file so the commit can declare partitionValues
  * on every add action (null value = null partition). */
private[v2] final case class GraftWrittenPartFiles(
    files: Seq[(String, String)])
  extends WriterCommitMessage

/** Partition-ROLLING parquet writers (X288): the write plan's required
  * clustering + ordering delivers each task's rows grouped by the
  * partition TRANSFORM value, so the writer closes its current file and
  * opens a fresh one whenever the value changes — one staged file per
  * (task, transform value), each reported WITH its value. The per-row
  * value is the SAME computation as [[IcebergLite.PartField.valueOf]] /
  * `valueColumn` / [[GraftFunctions]] (identity raw, spec Murmur3
  * bucket, codepoint truncate, UTC epoch ordinals) — bit-agreement is
  * what keeps manifest p0 pruning exact after SQL DML. Rolling stays
  * CORRECT without the sort (just more files), so a plan that somehow
  * drops the ordering degrades in file count, never in rows. */
private[v2] final class GraftRollingParquetWriterFactory(
    stagedDir: String,
    schema: StructType,
    part: IcebergLite.PartField,
    factory: OutputWriterFactory,
    conf: SerializableConfiguration)
  extends DataWriterFactory {

  private val partIdx = schema.fieldIndex(part.source)
  private val partDt = schema(part.source).dataType
  private val kind = part.kind
  private val param = part.param

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private var cur: org.apache.spark.sql.execution.datasources
      .OutputWriter = null
    private var curValue: String = null
    private var curOpen = false
    private var written = List.empty[(String, String)]

    private def sourceLong(r: InternalRow): Long = partDt match {
      case org.apache.spark.sql.types.LongType => r.getLong(partIdx)
      case org.apache.spark.sql.types.IntegerType => r.getInt(partIdx).toLong
      case other => throw new UnsupportedOperationException(
        s"partition column ${part.source}: $kind over " +
          s"${other.simpleString} is outside the rolling-writer subset")
    }

    // timestamp micros since epoch (UTC session zone); dates scale up
    private def sourceMicros(r: InternalRow): Long = partDt match {
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        r.getLong(partIdx)
      case org.apache.spark.sql.types.DateType =>
        r.getInt(partIdx).toLong * 86400L * 1000000L
      case other => throw new UnsupportedOperationException(
        s"partition column ${part.source}: $kind over " +
          s"${other.simpleString} is outside the rolling-writer subset")
    }

    private def valueOf(r: InternalRow): String =
      if (r.isNullAt(partIdx)) null
      else kind match {
        case "identity" => partDt match {
          case StringType => r.getUTF8String(partIdx).toString
          case org.apache.spark.sql.types.LongType =>
            r.getLong(partIdx).toString
          case org.apache.spark.sql.types.IntegerType =>
            r.getInt(partIdx).toString
          case other => throw new UnsupportedOperationException(
            s"partition column ${part.source}: ${other.simpleString} is " +
              "outside the rolling-writer subset (string/long/int)")
        }
        case "bucket" =>
          // spec bucket: seed-0 Murmur3 over the long's 8 LE bytes
          ((org.apache.spark.unsafe.hash.Murmur3_x86_32
            .hashLong(sourceLong(r), 0) & Int.MaxValue) % param).toString
        case "truncate" =>
          // CODEPOINT truncation (PartField.valueOf's rule — UTF-16
          // counting would split surrogate pairs a character early)
          val s = r.getUTF8String(partIdx).toString
          s.substring(0, s.offsetByCodePoints(0,
            math.min(param, s.codePointCount(0, s.length))))
        case "hour" =>
          math.floorDiv(sourceMicros(r), 3600L * 1000000L).toString
        case "day" =>
          math.floorDiv(sourceMicros(r), 86400L * 1000000L).toString
        case "year" | "month" =>
          val d = java.time.LocalDate.ofEpochDay(
            math.floorDiv(sourceMicros(r), 86400L * 1000000L))
          val n = if (kind == "year") d.getYear - 1970
            else (d.getYear - 1970) * 12 + d.getMonthValue - 1
          n.toString
        case other => throw new UnsupportedOperationException(
          s"transform $other is outside the rolling-writer subset")
      }

    private def attempt(n: Int) = new TaskAttemptContextImpl(conf.value,
      new TaskAttemptID("graft", 0,
        org.apache.hadoop.mapreduce.TaskType.MAP, partitionId,
        ((taskId * 131 + n) % Int.MaxValue).toInt))

    private def roll(v: String): Unit = {
      if (curOpen) cur.close()
      val name =
        f"part-$partitionId%05d-$taskId-${java.util.UUID.randomUUID()}.parquet"
      cur = factory.newInstance(s"$stagedDir/$name", schema,
        attempt(written.size))
      curOpen = true
      curValue = v
      written = (name, v) :: written
    }

    override def write(record: InternalRow): Unit = {
      val v = valueOf(record)
      if (!curOpen || curValue != v) roll(v)
      cur.write(record)
    }

    override def commit(): WriterCommitMessage = {
      if (curOpen) { cur.close(); curOpen = false }
      GraftWrittenPartFiles(written.reverse)
    }

    override def abort(): Unit = {
      if (curOpen) { cur.close(); curOpen = false }
      val fs = new Path(stagedDir).getFileSystem(conf.value)
      written.foreach { case (name, _) =>
        fs.delete(new Path(s"$stagedDir/$name"), false)
      }
    }

    override def close(): Unit = ()
  }
}

private[v2] final class GraftParquetWriterFactory(
    stagedDir: String,
    schema: StructType,
    factory: OutputWriterFactory,
    conf: SerializableConfiguration)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private val name =
      f"part-$partitionId%05d-$taskId-${java.util.UUID.randomUUID()}.parquet"
    private val filePath = s"$stagedDir/$name"
    private lazy val writer = {
      val attempt = new TaskAttemptContextImpl(conf.value,
        new TaskAttemptID("graft", 0,
          org.apache.hadoop.mapreduce.TaskType.MAP, partitionId,
          (taskId % Int.MaxValue).toInt))
      factory.newInstance(filePath, schema, attempt)
    }
    private var wrote = false

    override def write(record: InternalRow): Unit = {
      wrote = true
      writer.write(record)
    }

    override def commit(): WriterCommitMessage = {
      if (wrote) { writer.close(); GraftWrittenFile(name) }
      else GraftWrittenFile(null) // empty task: nothing staged
    }

    override def abort(): Unit = {
      if (wrote) {
        writer.close()
        val p = new Path(filePath)
        p.getFileSystem(conf.value).delete(p, false)
        ()
      }
    }

    override def close(): Unit = ()
  }
}
