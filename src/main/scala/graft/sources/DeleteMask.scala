package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.BooleanType

/** File identity, one rule for both table formats: the LAST TWO path
  * components. Basenames alone are NOT unique on partitioned tables —
  * one task writes the same part-<n>-<jobUuid> basename into every
  * partition directory it holds — so a basename key masks rows in
  * SIBLING partitions (silent row loss) and swaps their stats. The
  * parent dir (commit-private staging dir, or `_p=value` under it)
  * disambiguates. Log, manifest and listStatus paths are raw;
  * `_metadata.file_path` and `input_file_name()` are URI-encoded over
  * the raw name (space → %20, literal % → %25) and decode exactly once. */
private[graft] object FileKey {

  /** The key of a raw path. */
  def apply(path: String): String = path.split('/').takeRight(2).mkString("/")

  /** The key of a URI-encoded path — the one decoder: a literal '+' is
    * protected first (%2B), since URL decoding would otherwise read it
    * as an encoded space. */
  def ofUri(uri: String): String = apply(java.net.URLDecoder.decode(
    uri.replace("+", "%2B"), java.nio.charset.StandardCharsets.UTF_8))

  /** [[ofUri]] over a URI-encoded path column (`_metadata.file_path`). */
  def column(uri: Column): Column =
    org.apache.spark.sql.functions.udf((u: String) => ofUri(u)).apply(uri)
}

/** A merge-on-read delete mask over data files keyed by [[FileKey]]:
  * POSITION masks (Delta deletion vectors; Iceberg parquet position
  * deletes ∪ the newest v3 deletion vector, already sequence-gated),
  * plus Iceberg's EQUALITY-delete tuple payloads with their sequence
  * numbers (a tuple suppresses rows in data files with sequence
  * STRICTLY LESS than the delete's — evaluated per row at the reader
  * against each file's own data sequence, under [[EqVals]]' NULL-safe
  * rule). Loaded once on the driver: delete payloads are bounded by the
  * DELETED-row count, the same control-plane cost model as the log
  * itself. */
private[graft] final case class MorMask(
    posByFile: Map[String, Array[Long]],      // FileKey → sorted pos
    eq: Seq[EqVals],                          // N-column value tuples
    dataSeq: Map[String, Long],               // FileKey → data seq
    deleteFiles: Set[String]) {               // pinned delete-file paths
  def isEmpty: Boolean = posByFile.isEmpty && eq.isEmpty
}

private[graft] object MorMask {
  val empty: MorMask = MorMask(Map.empty, Nil, Map.empty, Set.empty)
}

/** The executor-side merge-on-read filter both formats' readers apply. */
private[graft] object MaskFilter {

  /** Keep the rows of `scan` (carrying the row index as `__ri`) that
    * `mask` leaves alive — or, with `alive = false`, exactly the rows it
    * kills (the changelog's question: which parent-live rows does a new
    * delete kill). ONE broadcast-backed executor filter serves every
    * delete kind: no join, no extra job, and the scan keeps its
    * vectorized reader, column pruning and pushdown. */
  def apply(spark: SparkSession, scan: DataFrame, mask: MorMask,
      alive: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, not, struct, udf}
    val eqCols = mask.eq.flatMap(_.cols).distinct
    eqCols.foreach(c => require(scan.schema.fields.find(_.name == c)
        .exists(f => EqVals.supported(f.dataType)),
      s"equality-delete column $c is not an integral/string/boolean " +
        "column of the table — equality deletes cannot be matched"))
    val idx = eqCols.zipWithIndex.toMap
    // the data sequences serve only equality gating: a position-only
    // mask ships nothing sized by the live file count
    val b = spark.sparkContext.broadcast(State(
      mask.posByFile, if (eqCols.isEmpty) Map.empty else mask.dataSeq,
      mask.eq.map(ev => (ev.cols.map(idx).toArray, ev.seq,
        EqVals.tupleSet(ev.tuples))).toArray))
    val keys = if (eqCols.isEmpty) lit(null) else struct(eqCols.map(col): _*)
    def where(file: Column, raw: Boolean): DataFrame = {
      val a = udf(new Alive(b, raw), BooleanType)(file, col("__ri"), keys)
      scan.where(if (alive) a else not(a))
    }
    // the RAW `_metadata.file_path`, resolved to the mask key once per
    // file per task (a derived `__fn` column decodes per row); a scan
    // over several name epochs unions them, which hides `_metadata` —
    // key on `__fn` there
    try where(col("_metadata.file_path"), raw = true)
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        where(col("__fn"), raw = false)
    }
  }

  /** The broadcast mask: per-file sorted masked positions and data
    * sequence, and one (key ordinals, delete sequence, tuple set) check
    * per equality-delete file. */
  final case class State(pos: Map[String, Array[Long]],
      dataSeq: Map[String, Long],
      eq: Array[(Array[Int], Long, java.util.HashSet[Seq[Any]])])

  /** Alive iff the row's position is not in its file's mask and no
    * equality check applicable to its file (data sequence STRICTLY below
    * the delete's) holds its key tuple. Tuples compare under [[EqVals]]'
    * NULL-safe rule: a NULL key component matches a NULL row value. The
    * file argument is the raw `_metadata.file_path` when `rawPaths`,
    * else the derived file key; `keys` is the struct of the equality
    * columns (null when there are none). A top-level class, so task
    * closures serialize ONLY the broadcast handle; each instance
    * memoizes the file → mask resolution per task (one [[FileKey.ofUri]]
    * per distinct FILE, not per row). */
  final class Alive(b: org.apache.spark.broadcast.Broadcast[State],
      rawPaths: Boolean)
    extends org.apache.spark.sql.api.java.UDF3[String, java.lang.Long,
      org.apache.spark.sql.Row, java.lang.Boolean] with Serializable {
    @transient private lazy val cache =
      new java.util.HashMap[String, (Array[Long], Long)]()
    private def resolve(file: String): (Array[Long], Long) = {
      var e = cache.get(file)
      if (e == null) {
        val k = if (rawPaths) FileKey.ofUri(file) else file
        e = (b.value.pos.getOrElse(k, null),
          b.value.dataSeq.getOrElse(k, Long.MaxValue))
        cache.put(file, e)
      }
      e
    }
    override def call(file: String, ri: java.lang.Long,
        keys: org.apache.spark.sql.Row): java.lang.Boolean = {
      val (m, ds) = resolve(file)
      if (m != null && java.util.Arrays.binarySearch(m, ri.longValue()) >= 0)
        return java.lang.Boolean.FALSE
      val checks = b.value.eq
      var i = 0
      while (i < checks.length) {
        val (ords, eseq, set) = checks(i)
        if (ds < eseq) {
          val tup = new Array[Any](ords.length)
          var j = 0
          while (j < ords.length) {
            tup(j) = EqVals.external(keys.get(ords(j)))
            j += 1
          }
          if (set.contains(tup.toIndexedSeq)) return java.lang.Boolean.FALSE
        }
        i += 1
      }
      java.lang.Boolean.TRUE
    }
  }
}
