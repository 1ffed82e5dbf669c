package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.ingest.Sinks
import graft.sources.{DeltaLite, IcebergLite}

/** MERGE source rules both formats share: an empty source and duplicate
  * source keys refuse (a NULL key is one key, so two NULL-keyed rows are
  * duplicates), a NULL-keyed row never matches and lands as an insert,
  * and the returned counts split matched, deleted and inserted rows. */
class MergeSourceSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private def src(rows: (java.lang.Long, Long, String)*): DataFrame =
    rows.toDF("k", "v", "op")

  private def refusal(merge: => Any): String =
    intercept[IllegalArgumentException](merge).getMessage

  private def deleted = Some(col("op") === "D")

  test("Delta MERGE: refusals, NULL keys and deleteWhen counts") {
    val table = Sinks.tempDir("merge_src_delta")
    DeltaLite.write(spark, (1L to 6L).map(k => (k, k)).toDF("k", "v")
      .coalesce(1), table, collectStats = true)
    def merge(s: DataFrame) = DeltaLite.mergeInto(spark, table,
      s.select("k", "v", "op"), "k", deleteWhen = deleted)

    refusal(merge(src((2L, 1L, "U"), (2L, 2L, "D")))) should include (
      "duplicate k values in MERGE source")
    refusal(merge(src((null, 1L, "U"), (null, 2L, "U")))) should include (
      "duplicate k values in MERGE source")
    refusal(merge(src().limit(0))) should include ("empty MERGE source")

    // 2 updates, 3 and 4 delete, 10 inserts, 11 deletes nothing
    val (_, upd, del, ins) = merge(src((2L, 20L, "U"), (3L, 3L, "D"),
      (4L, 4L, "D"), (10L, 10L, "U"), (11L, 11L, "D")))
    (upd, del, ins) shouldBe ((1L, 2L, 1L))
    // a NULL key matches nothing: its live row is an insert
    val (_, upd2, del2, ins2) = merge(src((null, 7L, "U"), (5L, 50L, "U")))
    (upd2, del2, ins2) shouldBe ((1L, 0L, 1L))
    DeltaLite.read(spark, table).as[(java.lang.Long, Long)].collect()
      .map { case (k, v) => (Option(k).map(_.longValue), v) }.toSet shouldBe
      Set(Some(1L) -> 1L, Some(2L) -> 20L, Some(5L) -> 50L, Some(6L) -> 6L,
        Some(10L) -> 10L, None -> 7L)

    // duplicate matched TARGET keys refuse
    DeltaLite.write(spark, Seq((6L, 60L)).toDF("k", "v"), table,
      collectStats = true)
    refusal(merge(src((6L, 1L, "D")))) should include (
      "duplicate k values among matched TARGET rows")
  }

  test("Iceberg MERGE: refusals, NULL keys and counts") {
    val table = Sinks.tempDir("merge_src_ice")
    IcebergLite.write(spark, (1L to 6L).map(k => (k, k)).toDF("k", "v"), table)
    def merge(s: DataFrame) =
      IcebergLite.mergeInto(spark, table, s.select("k", "v"), "k")

    refusal(merge(src((2L, 1L, "U"), (2L, 2L, "U")))) should include (
      "duplicate k values in MERGE source")
    refusal(merge(src((null, 1L, "U"), (null, 2L, "U")))) should include (
      "duplicate k values in MERGE source")
    refusal(merge(src().limit(0))) should include ("empty MERGE source")

    val (_, upd, ins) = merge(src((2L, 20L, "U"), (3L, 30L, "U"),
      (10L, 10L, "U")))
    (upd, ins) shouldBe ((2L, 1L))
    val (_, upd2, ins2) = merge(src((null, 7L, "U"), (5L, 50L, "U")))
    (upd2, ins2) shouldBe ((1L, 1L))
    IcebergLite.read(spark, table).as[(java.lang.Long, Long)].collect()
      .map { case (k, v) => (Option(k).map(_.longValue), v) }.toSet shouldBe
      Set(Some(1L) -> 1L, Some(2L) -> 20L, Some(3L) -> 30L, Some(4L) -> 4L,
        Some(5L) -> 50L, Some(6L) -> 6L, Some(10L) -> 10L, None -> 7L)

    IcebergLite.write(spark, Seq((6L, 60L)).toDF("k", "v"), table)
    refusal(merge(src((6L, 1L, "U")))) should include (
      "duplicate k values among matched TARGET rows")
  }
}
