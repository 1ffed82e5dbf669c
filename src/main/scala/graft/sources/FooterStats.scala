package graft.sources

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Per-file statistics straight from the parquet FOOTERS a staging write
  * just produced: the footer of every Spark-written parquet file already
  * carries per-row-group row counts, min/max and null counts per column,
  * so a commit's statistics cost O(files) metadata reads instead of a
  * second full scan of the staged bytes. The footer branch of
  * [[Staging.stats]], the one per-file stats reader of both formats.
  *
  * Scope is deliberately conservative: only INT64 and UTF8-string columns
  * are served (the two types the log and manifest encoders accept), and
  * ANY missing/unusable statistic makes the whole file report `None`, so
  * [[Staging.stats]] takes its distributed branch — identical stats or
  * no change. String min/max compare as unsigned UTF-8 bytes, matching
  * both parquet's UTF8 sort order and Spark's UTF8String ordering, so the
  * aggregated bounds equal what `min(col)`/`max(col)` would have returned.
  */
object FooterStats {

  /** One column's file-level stats: `min`/`max` are java.lang.Long or
    * String (null = column is all-NULL in this file; for a type the
    * footers do not serve, the scan branch answers Spark's own value),
    * `nulls` its NULL count. */
  final case class Col(min: Any, max: Any, nulls: Long)

  /** One staged file: total rows + stats for each requested column. */
  final case class PerFile(rows: Long, cols: Map[String, Col])

  private def utf8Lt(a: Array[Byte], b: Array[Byte]): Boolean =
    java.util.Arrays.compareUnsigned(a, b) < 0

  private def minOf(t: PrimitiveTypeName, a: Any, b: Any): Any = (a, b) match {
    case (null, x) => x
    case (x, null) => x
    case (x: java.lang.Long, y: java.lang.Long) => if (x <= y) x else y
    case (x: String, y: String) =>
      if (utf8Lt(x.getBytes(StandardCharsets.UTF_8),
        y.getBytes(StandardCharsets.UTF_8))) x else y
    case _ => throw new IllegalStateException(s"unreachable: $t")
  }

  private def maxOf(t: PrimitiveTypeName, a: Any, b: Any): Any = (a, b) match {
    case (null, x) => x
    case (x, null) => x
    case (x: java.lang.Long, y: java.lang.Long) => if (x >= y) x else y
    case (x: String, y: String) =>
      if (utf8Lt(x.getBytes(StandardCharsets.UTF_8),
        y.getBytes(StandardCharsets.UTF_8))) y else x
    case _ => throw new IllegalStateException(s"unreachable: $t")
  }

  /** Footer stats for one staged file, or None when any requested column's
    * statistics are absent, not INT64/UTF8, or nested — [[Staging.stats]]
    * then takes its distributed branch. `cols` empty = row count only
    * (always served). */
  def read(conf: Configuration, status: FileStatus,
      cols: Seq[String]): Option[PerFile] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(status, conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      if (cols.isEmpty) return Some(PerFile(rows, Map.empty))
      val out = Map.newBuilder[String, Col]
      cols.foreach { name =>
        var min: Any = null; var max: Any = null; var nulls = 0L
        blocks.foreach { b =>
          val chunk = b.getColumns.asScala
            .find(_.getPath.toDotString == name)
            .getOrElse(return None)
          val pt = chunk.getPrimitiveType
          val stringOk = pt.getPrimitiveTypeName == PrimitiveTypeName.BINARY &&
            pt.getLogicalTypeAnnotation == LogicalTypeAnnotation.stringType()
          val longOk = pt.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
            (pt.getLogicalTypeAnnotation == null ||
              pt.getLogicalTypeAnnotation ==
                LogicalTypeAnnotation.intType(64, true))
          if (!stringOk && !longOk) return None
          val st = chunk.getStatistics
          if (st == null || st.isEmpty || !st.isNumNullsSet) return None
          nulls += st.getNumNulls
          if (st.hasNonNullValue) {
            val (lo, hi) =
              if (longOk)
                (st.genericGetMin.asInstanceOf[java.lang.Long],
                  st.genericGetMax.asInstanceOf[java.lang.Long])
              else {
                val mn = st.genericGetMin
                  .asInstanceOf[org.apache.parquet.io.api.Binary]
                val mx = st.genericGetMax
                  .asInstanceOf[org.apache.parquet.io.api.Binary]
                (new String(mn.getBytes, StandardCharsets.UTF_8),
                  new String(mx.getBytes, StandardCharsets.UTF_8))
              }
            min = minOf(pt.getPrimitiveTypeName, min, lo)
            max = maxOf(pt.getPrimitiveTypeName, max, hi)
          } else if (st.getNumNulls != b.getRowCount) {
            // no value AND not all-null: stats unusable for bounds
            return None
          }
        }
        out += name -> Col(min, max, nulls)
      }
      Some(PerFile(rows, out.result()))
    } finally reader.close()
  }
}
