package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, min, sum, when}

/** What a row-level MERGE of either format learns about its (persisted)
  * source before it plans, from ONE `groupBy(key)` pass: the row count,
  * the rows `live` keeps (not deleted by the MERGE), and the key range as
  * a `(min, max)` row — min/max skip NULL keys, so an all-NULL source
  * yields a NULL-valued range. The pass also counts the distinct keys (a
  * NULL key is one group, as in `distinct()`), so it refuses an empty
  * source and duplicate source keys (SQL MERGE's multiple-match error) in
  * one place for both formats. */
private[graft] final case class MergeSource(rows: Long, liveRows: Long,
    range: Row)

private[graft] object MergeSource {
  def profile(src: DataFrame, keyCol: String, live: Column): MergeSource = {
    val p = src.groupBy(col(keyCol).as("k"))
      .agg(count(lit(1)).as("n"), count(when(live, 1)).as("live"))
      .agg(coalesce(sum("n"), lit(0L)), count(lit(1)), min("k"), max("k"),
        coalesce(sum("live"), lit(0L)))
      .collect()(0)
    val rows = p.getLong(0)
    require(rows > 0, "empty MERGE source")
    require(p.getLong(1) == rows,
      s"duplicate $keyCol values in MERGE source — ambiguous matches")
    MergeSource(rows, p.getLong(4), Row(p.get(2), p.get(3)))
  }
}
