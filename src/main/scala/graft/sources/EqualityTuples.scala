package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** The EXECUTOR-SIDE equality-delete value payload, generalized to
  * COMPOSITE keys (closing X305's stated subset): one instance per
  * equality-delete file — its equality columns (implied by the delete
  * file's own parquet schema, per the Iceberg spec), the delete's
  * sequence number, and the deleted key TUPLES in a canonical
  * representation both faces of the comparison share:
  *
  *   - integral columns (byte/short/int/long) canonicalize to Long
  *   - strings to java String (UTF8String unwrapped executor-side)
  *   - booleans stay Boolean
  *   - null components compare null-safely (IS NOT DISTINCT FROM — the
  *     spec's rule for equality deletes; a null key component matches a
  *     null row value)
  *
  * A row is suppressed when EVERY equality column matches some tuple.
  * Anything outside the canonical type set refuses loudly — but only
  * when a plan actually NEEDS that file's values (the r15 advice:
  * validation used to run over every live parent delete file on every
  * micro-batch, so one exotic file anywhere wedged the whole feed).
  *
  * Tuples pass through the driver bounded by the DELETED-row count —
  * the deleteWhereDV cost model; nothing corpus-sized. */
private[graft] final case class EqVals(
    cols: Seq[String],
    seq: Long,
    tuples: Array[Seq[Any]]) extends Serializable

private[graft] object EqVals {

  def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType |
         BooleanType => true
    case _ => false
  }

  /** Driver-side canonicalization of a collected Row cell. */
  def external(v: Any): Any = v match {
    case null => null
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
    case l: Long => l
    case s: String => s
    case b: Boolean => b
    case u: org.apache.spark.unsafe.types.UTF8String => u.toString
    case other => throw new IllegalArgumentException(
      s"unsupported equality-delete value type ${other.getClass.getName}")
  }

  /** Executor-side canonicalization of an InternalRow cell. */
  def internal(r: InternalRow, j: Int, dt: DataType): Any =
    if (r.isNullAt(j)) null
    else dt match {
      case ByteType => r.getByte(j).toLong
      case ShortType => r.getShort(j).toLong
      case IntegerType => r.getInt(j).toLong
      case LongType => r.getLong(j)
      case StringType => r.getUTF8String(j).toString
      case BooleanType => r.getBoolean(j)
      case other => throw new IllegalArgumentException(
        s"unsupported equality-delete column type $other")
    }

  /** Load one equality-delete file's payload — the only reader of
    * equality-delete files, shared by every Iceberg mask. Refuses loudly
    * for column types outside the canonical set, which
    * `IcebergLite.deleteWhereEqualityRows` never writes. */
  def load(spark: SparkSession, path: String, seq: Long): EqVals = {
    // deleted-key payloads are driver-bounded by definition — read them
    // with a plain driver parquet reader (no Spark job) whenever the
    // schema is the canonical integral/string/boolean tuple set; any
    // other shape falls back to the Spark read below, which owns the
    // user-facing refusal message
    ParquetDirect.tryReadEqTuples(
        spark.sparkContext.hadoopConfiguration, path) match {
      case Some((names, tuples)) => return EqVals(names, seq, tuples)
      case None => ()
    }
    val df = ParquetDirect.read(spark, path)
    df.schema.fields.foreach(f => require(supported(f.dataType),
      s"equality delete file $path column ${f.name} has type " +
        s"${f.dataType.simpleString} — equality deletes match integral/" +
        "string/boolean key tuples only, so this file cannot be masked"))
    val width = df.schema.length
    val tuples = df.collect()
      .map(r => (0 until width).map(j => external(r.get(j))): Seq[Any])
      .distinct
    EqVals(df.schema.fieldNames.toSeq, seq, tuples)
  }

  /** One (ordinals, value set) membership check per delete file, built
    * executor-side from the serialized payload. */
  type Check = (Array[Int], Array[DataType], java.util.HashSet[Seq[Any]])

  def checks(eq: Seq[(Array[Int], Array[Seq[Any]])],
      types: Array[DataType]): Array[Check] =
    eq.map { case (ords, tuples) =>
      (ords, ords.map(types), tupleSet(tuples))
    }.toArray

  /** The membership set of one file's tuples (NULL components kept:
    * the NULL-safe rule). */
  def tupleSet(tuples: Array[Seq[Any]]): java.util.HashSet[Seq[Any]] = {
    val set = new java.util.HashSet[Seq[Any]](tuples.length * 2)
    tuples.foreach(t => set.add(t))
    set
  }

  /** True iff the row's key tuple appears in ANY of the checks'
    * value sets (each check = one delete file). */
  def hit(r: InternalRow, cs: Array[Check]): Boolean = {
    var i = 0
    while (i < cs.length) {
      val (ords, dts, set) = cs(i)
      val tup: Seq[Any] =
        (0 until ords.length).map(k => internal(r, ords(k), dts(k)))
      if (set.contains(tup)) return true
      i += 1
    }
    false
  }
}
