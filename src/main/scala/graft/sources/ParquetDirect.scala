package graft.sources

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** DRIVER-side reads of control-plane-sized parquet files: equality-delete
  * value lists, position-delete coordinates and footer schemas. (Staged
  * data files' row counts and bounds come from [[FooterStats]] through
  * [[Staging.stats]].)
  *
  * The substrate used to route every such read through
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

  /** Top-level field names straight from the footer (the Iceberg rule:
    * an equality-delete file's schema IS its column set). */
  def schemaFieldNames(conf: Configuration, path: String): Seq[String] = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), conf))
    try r.getFooter.getFileMetaData.getSchema.getFields.asScala
      .map(_.getName).toSeq
    finally r.close()
  }

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
