package graft.sources

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetReader}
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.graftshim.Nullable

/** DRIVER-side reads of Parquet metadata and control-plane-sized files:
  * the schema of every Parquet input, equality-delete value lists and
  * position-delete coordinates. (Staged data files' row counts and bounds
  * come from [[FooterStats]] through [[Staging.stats]].)
  *
  * Schemas come from ONE footer ([[footerSchema]]): a schema-less
  * `spark.read.parquet(...)` infers its schema with a whole Spark job (plus
  * a Hadoop-conf broadcast) per open, so every Parquet input of the engine
  * opens through [[read]], which hands Spark the footer's schema instead.
  *
  * The substrate used to route every payload read through
  * `spark.read.parquet(...).collect()` — correct, but each call costs one
  * or two whole Spark jobs (a footer/schema job plus the collect) for a
  * file that holds a handful of KILOBYTES the driver immediately
  * materializes anyway. These payloads are bounded by deleted-row count
  * (the deleteWhereDV cost model), never corpus-sized, so a plain driver
  * read is the right cost model at every scale — the same class of work
  * as reading a manifest.
  *
  * The two payload readers are conservative: if the file's schema is
  * anything but the exact shape expected, they return None and their one
  * caller each (`IcebergLite.loadPositions`, [[EqVals.load]]) reads
  * through Spark instead (identical behavior, including its error
  * messages for unsupported types). */
private[graft] object ParquetDirect {

  /** The Spark schema of the Parquet input `paths`, from ONE footer read
    * on the driver — the file Spark's own inference opens when
    * `mergeSchema` is off: `_common_metadata`, else `_metadata`, else the
    * first data file in path order, listing directories as Spark does
    * (recursively, skipping `_`/`.` names). The footer converts through
    * Spark's `readSchemaFromFooter` and a session-configured
    * `ParquetToSparkSchemaConverter`, so the Spark-schema key and the
    * session's `binaryAsString`, `int96AsTimestamp`, `inferTimestampNTZ`
    * and `nanosAsLong` flags act exactly as in inference; every column
    * reads nullable, as in the relation Spark builds. Under
    * `spark.sql.parquet.mergeSchema=true` every file's schema counts, so
    * the answer is Spark's own inference. */
  def footerSchema(spark: SparkSession, paths: String*): StructType = {
    val sql = spark.sessionState.conf
    if (sql.isParquetSchemaMergingEnabled)
      return spark.read.format("parquet").load(paths: _*).schema
    val conf = spark.sessionState.newHadoopConf()
    val leaves = paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val roots = Option(fs.globStatus(path)).filter(_.nonEmpty).getOrElse(
        throw new AnalysisException("PATH_NOT_FOUND",
          Map("path" -> fs.makeQualified(path).toString)))
      roots.toSeq.flatMap(leafFiles(fs, _))
    }.sortBy(_.getPath.toString)
    def named(n: String) = leaves.find(_.getPath.getName == n)
    val file = named("_common_metadata").orElse(named("_metadata"))
      .orElse(leaves.find(f => !summaryFiles(f.getPath.getName)))
      .getOrElse(throw new AnalysisException("UNABLE_TO_INFER_SCHEMA",
        Map("format" -> "Parquet")))
    val footer = ParquetFileReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
    Nullable(ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer), new ParquetToSparkSchemaConverter(sql)))
  }

  /** `spark.read.parquet(paths)` with its schema from [[footerSchema]]:
    * the same relation, partition discovery included, with no inference
    * job. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(footerSchema(spark, paths: _*)).parquet(paths: _*)

  private val summaryFiles = Set("_common_metadata", "_metadata")

  /** Spark's listing rule for file sources: a directory's files,
    * recursively, minus `_`/`.`-prefixed names (partition directories
    * `_k=v` and the summary files stay) and in-flight `._COPYING_`
    * copies. */
  private def leafFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(st.getPath).toSeq.filter { c =>
      val n = c.getPath.getName
      val hidden = (n.startsWith("_") && !n.contains("=")) ||
        n.startsWith(".") || n.endsWith("._COPYING_")
      !hidden || n.startsWith("_common_metadata") || n.startsWith("_metadata")
    }.flatMap(leafFiles(fs, _))

  private def groups(conf: Configuration, path: String): Iterator[Group] = {
    val reader = ParquetReader
      .builder(new GroupReadSupport(), new Path(path)).withConf(conf).build()
    new Iterator[Group] {
      private var nxt: Group = reader.read()
      override def hasNext: Boolean = {
        val h = nxt != null
        if (!h) reader.close()
        h
      }
      override def next(): Group = {
        val g = nxt; nxt = reader.read(); g
      }
    }
  }

  /** Position-delete coordinates `(file_path, pos)` of one delete file,
    * or None when its schema is not exactly the expected two columns
    * (caller falls back to the Spark read). */
  def tryReadPositions(conf: Configuration,
      path: String): Option[Seq[(String, Long)]] = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), conf))
    val ok = try {
      val fields = r.getFooter.getFileMetaData.getSchema.getFields.asScala
      fields.map(_.getName) == Seq("file_path", "pos") &&
        fields.forall(_.isPrimitive) &&
        fields(0).asPrimitiveType.getPrimitiveTypeName ==
          PrimitiveTypeName.BINARY &&
        fields(1).asPrimitiveType.getPrimitiveTypeName ==
          PrimitiveTypeName.INT64
    } finally r.close()
    if (!ok) return None
    // position-delete rows are never null-valued; a malformed file with
    // missing cells would throw here exactly as the Spark collect's Row
    // accessors would downstream
    Some(groups(conf, path).map { g =>
      (new String(g.getBinary("file_path", 0).getBytes,
        StandardCharsets.UTF_8), g.getLong("pos", 0))
    }.toVector)
  }

  /** One equality-delete file's deleted-key tuples in [[EqVals]]'
    * canonical representation (integrals → Long, strings → String,
    * booleans → Boolean, null components null) with its column names,
    * or None when any column is outside the signed-integral/string/
    * boolean set this reader can canonicalize exactly — the caller falls
    * back to the Spark path, which owns the user-facing refusal
    * message. */
  def tryReadEqTuples(conf: Configuration, path: String)
      : Option[(Seq[String], Array[Seq[Any]])] = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), conf))
    val schemaInfo = try {
      val fields = r.getFooter.getFileMetaData.getSchema.getFields.asScala
      if (!fields.forall(_.isPrimitive)) return None
      val kinds: Seq[Int] = fields.map { f =>
        val pt = f.asPrimitiveType()
        val lt = pt.getLogicalTypeAnnotation
        pt.getPrimitiveTypeName match {
          case PrimitiveTypeName.INT32 if lt == null ||
            lt == LogicalTypeAnnotation.intType(8, true) ||
            lt == LogicalTypeAnnotation.intType(16, true) ||
            lt == LogicalTypeAnnotation.intType(32, true) => 0 // → Long
          case PrimitiveTypeName.INT64 if lt == null ||
            lt == LogicalTypeAnnotation.intType(64, true) => 1 // Long
          case PrimitiveTypeName.BINARY
            if lt == LogicalTypeAnnotation.stringType() => 2 // String
          case PrimitiveTypeName.BOOLEAN if lt == null => 3 // Boolean
          case _ => return None
        }
      }.toSeq
      (fields.map(_.getName).toSeq, kinds)
    } finally r.close()
    val (names, kinds) = schemaInfo
    val tuples = groups(conf, path).map { g =>
      names.indices.map { j =>
        if (g.getFieldRepetitionCount(j) == 0) null
        else kinds(j) match {
          case 0 => g.getInteger(j, 0).toLong
          case 1 => g.getLong(j, 0)
          case 2 => new String(g.getBinary(j, 0).getBytes,
            StandardCharsets.UTF_8)
          case _ => g.getBoolean(j, 0)
        }
      }: Seq[Any]
    }.toArray.distinct
    Some((names, tuples))
  }
}
