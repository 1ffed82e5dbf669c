package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Staging of data files, one path for both Lite formats: every Delta
  * and Iceberg data-file commit writes its rows into a commit-private
  * directory here, lists what landed, and reads the per-file statistics
  * its log or manifest records. Each format keeps only its own encoding
  * of those statistics (Delta's `stats` JSON, Iceberg's manifest
  * entries). */
private[graft] object Staging {

  /** One staged data file: its table-relative path, its RAW partition
    * value (recovered from the `_p=` directory name; null on an
    * unpartitioned staging directory and for the null partition) and its
    * status. */
  final case class File(rel: String, value: String, status: FileStatus) {
    def key: String = FileKey(rel)
  }

  /** Write `df` as parquet under `table/dir` and list the staged files.
    * With `value`, rows are split by that column (`_p`): shuffled on it
    * at the PINNED `spark.sql.shuffle.partitions` width — AQE would fold
    * the byte-light value shuffle to one task that encodes every
    * partition's file serially — so a value still lands in one file per
    * task, one encoder task per value. `sortWithin` orders each value's
    * rows. */
  def write(table: String, dir: String, df: DataFrame,
      value: Option[Column] = None, sortWithin: Seq[String] = Nil)
      : Seq[File] = {
    import org.apache.spark.sql.functions.col
    value match {
      case None => df.write.mode("errorifexists").parquet(s"$table/$dir")
      case Some(v) =>
        val width = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        val byValue = df.withColumn("_p", v).repartition(width.toInt, col("_p"))
        (if (sortWithin.isEmpty) byValue
          else byValue.sortWithinPartitions(("_p" +: sortWithin).map(col): _*))
          .write.mode("errorifexists").partitionBy("_p")
          .parquet(s"$table/$dir")
    }
    list(new Path(table).getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration), table, dir)
  }

  /** The parquet files of a staged directory, sorted by name; a `_p=`
    * subdirectory contributes its own files, sorted, carrying the raw
    * value its (Hive-escaped) name encodes. */
  private def list(fs: FileSystem, table: String, dir: String): Seq[File] =
    fs.listStatus(new Path(table, dir)).sortBy(_.getPath.getName).toSeq
      .flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("_p="))
          list(fs, table, s"$dir/$name").map(_.copy(
            value = unescapePathName(name.stripPrefix("_p="))))
        else if (name.endsWith(".parquet")) Seq(File(s"$dir/$name", null, st))
        else Nil
      }

  /** Inverse of Spark/Hive's partition-directory escaping: directory
    * names URI-escape special characters as %XX and encode null/empty as
    * the Hive default sentinel — recovering the raw value must undo both,
    * or partition pruning silently misses files whose values needed
    * escaping. */
  private[sources] def unescapePathName(s: String): String = {
    if (s == "__HIVE_DEFAULT_PARTITION__") return null
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val code =
          try Integer.parseInt(s.substring(i + 1, i + 3), 16)
          catch { case _: NumberFormatException => -1 }
        if (code >= 0) { sb.append(code.toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.result()
  }

  /** Per-file statistics of staged `files` over the columns of `cols`,
    * keyed by [[FileKey]]: row count plus each column's min, max and
    * NULL count. Read from the parquet FOOTERS the write just produced
    * (O(files) metadata reads, no Spark job); when any footer cannot
    * serve them exactly ([[FooterStats.read]] answers None), ONE
    * distributed pass re-reads the files instead. Both answer the same
    * shape, with an entry for every file — zero-row files included. With
    * no columns the footers always serve (row counts only). */
  def stats(spark: SparkSession, files: Seq[File],
      cols: StructType = new StructType()): Map[String, FooterStats.PerFile] =
    footerStats(spark, files, cols).getOrElse(scanStats(spark, files, cols))

  /** The footer branch of [[stats]]: None when any file's footer cannot
    * serve every column. */
  private[graft] def footerStats(spark: SparkSession, files: Seq[File],
      cols: StructType): Option[Map[String, FooterStats.PerFile]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val out = Map.newBuilder[String, FooterStats.PerFile]
    files.foreach { f =>
      out += f.key -> FooterStats.read(conf, f.status, cols.fieldNames.toSeq)
        .getOrElse(return None)
    }
    Some(out.result())
  }

  /** The distributed branch of [[stats]]: one `input_file_name()`
    * aggregation over the files, read under `cols` (a file missing a
    * column reads it as NULL). A zero-row file forms no group; it gets
    * the footer's answer for an empty file. */
  private[graft] def scanStats(spark: SparkSession, files: Seq[File],
      cols: StructType): Map[String, FooterStats.PerFile] = {
    import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min}
    if (files.isEmpty) return Map.empty
    val names = cols.fieldNames.toSeq
    val aggs = count(lit(1)).as("n") +: names.indices.flatMap { i =>
      val c = col(names(i))
      Seq(min(c).as(s"mn_$i"), max(c).as(s"mx_$i"), count(c).as(s"nn_$i"))
    }
    val found = spark.read.schema(cols)
      .parquet(files.map(_.status.getPath.toString): _*)
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val n = r.getAs[Long]("n")
        FileKey.ofUri(r.getAs[String]("f")) -> FooterStats.PerFile(n,
          names.indices.map(i => names(i) -> FooterStats.Col(
            r.getAs[Any](s"mn_$i"), r.getAs[Any](s"mx_$i"),
            n - r.getAs[Long](s"nn_$i"))).toMap)
      }.toMap
    val empty = FooterStats.PerFile(0L,
      names.map(_ -> FooterStats.Col(null, null, 0L)).toMap)
    files.map(f => f.key -> found.getOrElse(f.key, empty)).toMap
  }
}
