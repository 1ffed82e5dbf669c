package graft

import org.apache.spark.sql.functions.col
import org.scalatest.matchers.should.Matchers

import graft.ingest.Sinks
import graft.sources.{FileKey, FooterStats, Staging}

/** The shared staging path both table formats commit through: the
  * per-file stats reader's footer branch and its distributed branch
  * must answer the same [[FooterStats.PerFile]] map on the same staged
  * files, with an entry for every file. */
class StagingSpec extends SparkSpec with Matchers {

  private def bothBranches(files: Seq[Staging.File],
      cols: org.apache.spark.sql.types.StructType)
      : Map[String, FooterStats.PerFile] = {
    val footer = Staging.footerStats(spark, files, cols)
    footer shouldBe defined
    Staging.scanStats(spark, files, cols) shouldBe footer.get
    footer.get.keySet shouldBe files.map(_.key).toSet
    footer.get
  }

  test("footer and scan branches agree: long, string and all-NULL " +
      "columns, and a zero-row file") {
    import spark.implicits._
    val table = Sinks.tempDir("staging_stats_flat")
    val df = Seq[(Long, String, Option[Long])](
      (3L, "b", None), (1L, "a", None), (7L, "zz", None), (5L, null, None))
      .toDF("k", "s", "z")
    val files = Staging.write(table, "data/full", df.repartition(2)) ++
      Staging.write(table, "data/empty", df.limit(0))
    files.count(_.rel.startsWith("data/full/")) shouldBe 2
    files.count(_.rel.startsWith("data/empty/")) shouldBe 1
    val cols = df.schema
    val stats = bothBranches(files, cols)
    stats.values.map(_.rows).sum shouldBe 4L
    val empty = stats(files.find(_.rel.startsWith("data/empty/")).get.key)
    empty shouldBe FooterStats.PerFile(0L,
      cols.fieldNames.map(_ -> FooterStats.Col(null, null, 0L)).toMap)
    val full = stats.values.filter(_.rows > 0).toSeq
    full.map(_.cols("k").min.asInstanceOf[Long]).min shouldBe 1L
    full.map(_.cols("k").max.asInstanceOf[Long]).max shouldBe 7L
    full.map(_.cols("s").nulls).sum shouldBe 1L
    full.foreach { pf =>
      pf.cols("z") shouldBe FooterStats.Col(null, null, pf.rows)
    }
    // row counts alone: the footers always serve
    Staging.stats(spark, files).map { case (k, pf) => (k, pf.rows) } shouldBe
      stats.map { case (k, pf) => (k, pf.rows) }
  }

  test("footer and scan branches agree on a partitioned directory whose " +
      "_p= files share a basename, with path-escaped values") {
    import spark.implicits._
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    // one task holds both values, so it writes ONE basename into both
    // value directories
    spark.conf.set(key, "1")
    try {
      val table = Sinks.tempDir("staging_stats_part")
      val df = Seq(("a%1", 1L, "x"), ("a%1", 2L, "y"), ("a+b", 30L, "w"))
        .toDF("cat", "v", "s")
      val files = Staging.write(table, "data/p", df, Some(col("cat")))
      files.map(_.value) shouldBe Seq("a%1", "a+b")
      files.map(_.status.getPath.getName).distinct should have size 1
      files.map(_.key).distinct should have size 2
      files.foreach(f => FileKey(f.rel) shouldBe f.key)
      val stats = bothBranches(files, df.schema)
      val byValue = files.map(f => f.value -> stats(f.key)).toMap
      byValue("a%1").rows shouldBe 2L
      byValue("a%1").cols("v") shouldBe FooterStats.Col(1L, 2L, 0L)
      byValue("a+b").rows shouldBe 1L
      byValue("a+b").cols("s") shouldBe FooterStats.Col("w", "w", 0L)
    } finally spark.conf.set(key, prev)
  }
}
