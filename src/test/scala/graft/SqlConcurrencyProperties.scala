package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

import graft.ingest.Sinks
import graft.sources.{DeltaLite, IcebergLite}

/** X298: CONCURRENT SQL writers through one catalog — the serializability
  * property the single-threaded specs cannot cover. Racing commits go
  * through the formats' optimistic arbiters (atomic-create log versions /
  * metadata CAS), so for arbitrary interleavings the final table must
  * equal SOME serial order of the operations that reported success:
  *
  *   - racing INSERTs (disjoint rows) all succeed and all land exactly
  *     once — appends commute, the arbiter only orders them;
  *   - racing UPDATE vs INSERT with disjoint key ranges is COMMUTATIVE
  *     by construction here, so whichever order the arbiter picks, the
  *     final state is the same — and an UPDATE that loses every retry
  *     must THROW, never half-apply;
  *   - racing streaming epochs from TWO queries keep per-query ledgers:
  *     each query's monotone replay model applies independently
  *     (the r13 advisor's shared-ledger data-loss hazard, now raced);
  *   - racing API commits (row-level DELETE and UPDATE on disjoint key
  *     ranges of one single-file table, Delta domain metadata, Iceberg
  *     refs) all land exactly once, the table equals the serial result,
  *     and every lost attempt removed what it staged: no data, change
  *     data or manifest file is left that the log does not reference.
  *
  * Threads run against local[4]; the point is arbiter interleaving, not
  * cluster scale — the arbiters are the same code a 1000-executor driver
  * runs. */
object SqlConcurrencyProperties extends Properties("SqlConcurrency") {

  private lazy val spark: SparkSession = SparkSession.builder()
    .withExtensions(new graft.functions.GraftExtensions())
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(3) // each sample races real table commits

  private val cat = "graftconc"
  private lazy val warehouse: String = {
    val w = Sinks.tempDir("conc_wh")
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    w
  }

  /** Run every thunk on its own thread, released together; surface the
    * first failure (or None per slot on success). */
  private def race(thunks: Seq[() => Unit]): Seq[Option[Throwable]] = {
    val pool = Executors.newFixedThreadPool(thunks.size)
    val gate = new CountDownLatch(1)
    val results = new Array[Option[Throwable]](thunks.size)
    val done = new CountDownLatch(thunks.size)
    thunks.zipWithIndex.foreach { case (t, i) =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          gate.await()
          results(i) =
            try { t(); None }
            catch { case e: Throwable => Some(e) }
          done.countDown()
        }
      })
    }
    gate.countDown()
    done.await(300, TimeUnit.SECONDS)
    pool.shutdownNow()
    results.toSeq
  }

  private var n = 0
  private def freshTable(fmt: String): (String, String) = synchronized {
    // Force catalog registration BEFORE the first SQL touches `$cat` —
    // Spark resolves an unregistered name under spark_catalog.
    val wh = warehouse
    n += 1
    val name = s"conc_${fmt}_$n"
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.$name")
    spark.sql(s"CREATE TABLE $cat.db.$name (k BIGINT, v BIGINT) USING $fmt")
    (s"$cat.db.$name", s"$wh/db/$name")
  }

  private val writersGen: Gen[Int] = Gen.choose(2, 4)

  for (fmt <- Seq("delta", "iceberg"))
    property(s"$fmt: racing SQL INSERTs all land exactly once") =
      Prop.forAllNoShrink(writersGen) { writers =>
        val (tbl, path) = freshTable(fmt)
        val failures = race((0 until writers).map(w => () => {
          spark.sql(s"INSERT INTO $tbl VALUES " +
            (1 to 5).map(i => s"(${w * 100 + i}, $w)").mkString(", "))
          ()
        })).flatten
        val got = spark.sql(s"SELECT k FROM $tbl ORDER BY k")
          .collect().map(_.getLong(0)).toSeq
        val want = (0 until writers)
          .flatMap(w => (1 to 5).map(i => (w * 100 + i).toLong)).sorted
        val versions =
          if (fmt == "delta") DeltaLite.latestVersion(spark, path)
          else IcebergLite.snapshotIdList(spark, path).size.toLong
        (failures.isEmpty :| s"failures: ${failures.map(_.getMessage)}") &&
          ((got == want) :| s"got $got want $want") &&
          ((versions >= writers.toLong) :|
            s"expected >= $writers commits, saw $versions")
      }

  for (fmt <- Seq("delta", "iceberg"))
    property(s"$fmt: racing UPDATE vs INSERT (disjoint keys) serialize") =
      Prop.forAllNoShrink(Gen.choose(1, 3)) { inserts =>
        val (tbl, path) = freshTable(fmt)
        spark.sql(s"INSERT INTO $tbl VALUES " +
          (1 to 10).map(i => s"($i, $i)").mkString(", "))
        val outcomes = race(
          (() => {
            spark.sql(s"UPDATE $tbl SET v = v * 10 WHERE k <= 10")
            ()
          }) +: (1 to inserts).map(w => () => {
            spark.sql(s"INSERT INTO $tbl VALUES (${1000 + w}, ${1000 + w})")
            ()
          }))
        // inserts must all succeed (appends commute); the UPDATE either
        // succeeded or threw loudly — both orders give the same final
        // state because the key ranges are disjoint
        val insertFailures = outcomes.tail.flatten
        val updateOk = outcomes.head.isEmpty
        val expectBase =
          if (updateOk) (1 to 10).map(i => (i.toLong, i * 10L))
          else (1 to 10).map(i => (i.toLong, i.toLong))
        val want = (expectBase ++
          (1 to inserts).map(w => ((1000 + w).toLong, (1000 + w).toLong)))
          .sorted
        val got = spark.sql(s"SELECT k, v FROM $tbl ORDER BY k")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        (insertFailures.isEmpty :|
          s"insert failures: ${insertFailures.map(_.getMessage)}") &&
          ((got == want) :|
            s"updateOk=$updateOk got $got want $want")
      }

  for (fmt <- Seq("delta", "iceberg"))
    property(s"$fmt: UPDATE racing compaction serializes or refuses loudly") =
      Prop.forAllNoShrink(Gen.choose(2, 5)) { files =>
        val (tbl, path) = freshTable(fmt)
        // one commit per row → a multi-file table, so the rewrite and
        // the row-level UPDATE race over REAL overlapping file sets
        (1 to files).foreach(i =>
          spark.sql(s"INSERT INTO $tbl VALUES ($i, $i)"))
        val outcomes = race(Seq(
          () => { spark.sql(s"UPDATE $tbl SET v = v + 100 WHERE k >= 1"); () },
          () => {
            if (fmt == "delta") DeltaLite.optimize(spark, path, 1)
            else IcebergLite.rewriteDataFiles(spark, path, 1)
            ()
          }))
        val updateOk = outcomes.head.isEmpty
        // either op may lose and THROW (that is the conflict rule working:
        // removed-files liveness / source-snapshot pin) — but the final
        // state must equal the serial order of the ops that REPORTED
        // success: all-updated if the UPDATE succeeded, all-base if it
        // refused. Compaction never changes values, only file layout —
        // a half-applied UPDATE or a compaction that resurrected
        // pre-update rows shows up as a value mismatch here.
        val want = (1 to files).map(i =>
          if (updateOk) (i.toLong, i + 100L) else (i.toLong, i.toLong))
        val got = spark.sql(s"SELECT k, v FROM $tbl ORDER BY k")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        (got == want) :|
          s"updateOk=$updateOk maintOk=${outcomes(1).isEmpty} " +
            s"got $got want $want"
      }

  private val epochsGen: Gen[List[Int]] = for {
    m <- Gen.choose(2, 4)
    es <- Gen.listOfN(m, Gen.choose(0, 3))
  } yield es

  /** One single-row staged file per (query, epoch, i). */
  private def stage(path: String, tag: Long, q: String, i: Int): String = {
    import spark.implicits._
    val rel = s"data/conc-$q-e$tag-$i"
    Seq((tag, tag)).toDF("k", "v").coalesce(1).write.parquet(s"$path/$rel")
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val f = fs.listStatus(new Path(path, rel))
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).head
    s"$rel/$f"
  }

  private def monotone(epochs: List[Int]): Seq[Int] = {
    var hwm = -1
    epochs.flatMap(e => if (e > hwm) { hwm = e; Some(e) } else None)
  }

  for (fmt <- Seq("delta", "iceberg"))
    property(s"$fmt: two queries' racing epochs keep per-query ledgers") =
      Prop.forAllNoShrink(epochsGen, epochsGen) { (ea, eb) =>
        val (_, path) = freshTable(fmt)
        def committer(q: String, epochs: List[Int]): () => Unit = () =>
          epochs.zipWithIndex.foreach { case (e, i) =>
            val f = stage(path, e.toLong, q, i)
            if (fmt == "delta")
              DeltaLite.commitStreamFiles(spark, path, Seq(f), e.toLong,
                appId = s"graft-stream-$q")
            else
              IcebergLite.commitStreamFiles(spark, path, Seq(f), e.toLong,
                appId = s"graft-stream-$q")
          }
        val failures =
          race(Seq(committer("qa", ea), committer("qb", eb))).flatten
        // each query applies its OWN monotone model, independent of the
        // other's epochs racing the same table
        val want = (monotone(ea) ++ monotone(eb)).map(_.toLong).sorted
        val got =
          (if (fmt == "delta") DeltaLite.read(spark, path)
           else IcebergLite.read(spark, path))
            .select("k").collect().map(_.getLong(0)).sorted.toSeq
        (failures.isEmpty :| s"failures: ${failures.map(_.getMessage)}") &&
          ((got == want) :| s"ea=$ea eb=$eb got $got want $want")
      }

  // ---------------------------------------------------------------------
  // API commits: every op claims its version inside Occ.commit, so racing
  // ops re-run on the new head instead of throwing

  private val mapper = new ObjectMapper()

  /** Run `op(i)` for i in 0 until n on racing threads; the answers of
    * the ops that returned, and the failures. */
  private def raceOps[A](n: Int)(op: Int => A): (Seq[A], Seq[Throwable]) = {
    val answers = new ConcurrentLinkedQueue[A]()
    val failures = race((0 until n).map(i => () => { answers.add(op(i)); () }))
    (answers.asScala.toSeq, failures.flatten)
  }

  /** A one-file table of k = v = 1..40 at a fresh API path. */
  private def singleFileTable(fmt: String): String = {
    import spark.implicits._
    val path = Sinks.tempDir(s"conc_api_$fmt")
    val df = (1L to 40L).map(k => (k, k)).toDF("k", "v").coalesce(1)
    if (fmt == "delta") DeltaLite.write(spark, df, path, collectStats = true)
    else IcebergLite.write(spark, df, path)
    path
  }

  private def rows(fmt: String, path: String): Seq[(Long, Long)] =
    (if (fmt == "delta") DeltaLite.read(spark, path)
     else IcebergLite.read(spark, path))
      .select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted

  /** Committed versions past the table's first commit. */
  private def commitsAfterCreate(fmt: String, path: String): Long =
    if (fmt == "delta") DeltaLite.latestVersion(spark, path)
    else IcebergLite.latestMetadataVersion(spark, path) - 1L

  private def filesUnder(path: String, dir: String,
      suffix: String): Seq[String] = {
    val root = new Path(path, dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Nil
    else {
      val it = fs.listFiles(root, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
        .filter(_.getName.endsWith(suffix)).map(_.toUri.getPath).toSeq
    }
  }

  private def avroRecords(p: String): Seq[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](
      new java.io.File(new Path(p).toUri.getPath),
      new GenericDatumReader[GenericRecord]())
    try Iterator.continually(r).takeWhile(_.hasNext).map(_.next()).toSeq
    finally r.close()
  }

  /** Data, change-data and manifest files no committed version
    * references — what a lost attempt that did not clean up leaves. */
  private def unreferenced(fmt: String, path: String): Seq[String] = {
    val root = new Path(path).toUri.getPath
    if (fmt == "delta") {
      val referenced = filesUnder(path, "_delta_log", ".json").flatMap { f =>
        java.nio.file.Files.readAllLines(java.nio.file.Paths.get(f)).asScala
          .filter(_.nonEmpty).map(mapper.readTree).flatMap { n =>
            Seq("add", "remove", "cdc").filter(n.has)
              .map(a => s"$root/${n.get(a).get("path").asText()}")
          }
      }.toSet
      (filesUnder(path, "data", ".parquet") ++
        filesUnder(path, "_change_data", ".parquet")).filterNot(referenced)
    } else {
      val lists = filesUnder(path, "metadata", ".metadata.json").flatMap { f =>
        mapper.readTree(new java.io.File(f)).get("snapshots").elements()
          .asScala.map(s => new Path(s.get("manifest-list").asText())
            .toUri.getPath)
      }.distinct
      val manifests = lists.flatMap(l => avroRecords(l)
        .map(m => new Path(m.get("manifest_path").toString).toUri.getPath))
        .distinct
      val files = manifests.flatMap(m => avroRecords(m).map(e =>
        new Path(e.get("data_file").asInstanceOf[GenericRecord]
          .get("file_path").toString).toUri.getPath)).toSet
      val metadata = (lists ++ manifests).toSet
      filesUnder(path, "metadata", ".avro").filterNot(metadata) ++
        filesUnder(path, "data", ".parquet").filterNot(files)
    }
  }

  /** The shared verdict: every op returned a distinct version, exactly
    * `ops` versions landed, the table equals `want`, nothing is orphaned. */
  private def landedOnce(fmt: String, path: String, ops: Int,
      versions: Seq[Long], failures: Seq[Throwable],
      want: Seq[(Long, Long)]): Prop = {
    val got = rows(fmt, path)
    val orphans = unreferenced(fmt, path)
    (failures.isEmpty :| s"failures: ${failures.map(_.getMessage)}") &&
      ((versions.distinct.size == ops) :| s"versions $versions") &&
      ((commitsAfterCreate(fmt, path) == ops.toLong) :|
        s"${commitsAfterCreate(fmt, path)} commits for $ops ops") &&
      ((got == want) :| s"got $got want $want") &&
      (orphans.isEmpty :| s"unreferenced files: $orphans")
  }

  private def range(i: Int): (Long, Long) = (i * 10L + 1L, i * 10L + 10L)

  // the API races below do not shrink: a shrunk writer count would leave
  // the 2..4 range a race needs and report that instead of the failure

  for (fmt <- Seq("delta", "iceberg"))
    property(s"$fmt: racing API deletes on disjoint ranges all land") =
      Prop.forAllNoShrink(writersGen) { n =>
        val path = singleFileTable(fmt)
        val (answers, failures) = raceOps(n) { i =>
          val (lo, hi) = range(i)
          if (fmt == "delta") DeltaLite.deleteWhere(spark, path, "k", lo, hi)._1
          else IcebergLite.deleteWhere(spark, path, "k", lo, hi)._1
        }
        landedOnce(fmt, path, n, answers, failures,
          (n * 10L + 1L to 40L).map(k => (k, k)))
      }

  for (fmt <- Seq("delta", "iceberg"))
    property(s"$fmt: racing API updates on disjoint ranges all land") =
      Prop.forAllNoShrink(writersGen) { n =>
        val path = singleFileTable(fmt)
        val set = Map("v" -> (col("v") + lit(1000L)))
        val (answers, failures) = raceOps(n) { i =>
          val (lo, hi) = range(i)
          if (fmt == "delta")
            DeltaLite.updateWhere(spark, path, "k", lo, hi, set)._1
          else IcebergLite.updateWhere(spark, path, "k", lo, hi, set)._1
        }
        landedOnce(fmt, path, n, answers, failures,
          (1L to 40L).map(k => (k, if (k <= n * 10L) k + 1000L else k)))
      }

  property("delta: racing domain-metadata commits all land") =
    Prop.forAllNoShrink(writersGen) { n =>
      val path = singleFileTable("delta")
      val (answers, failures) = raceOps(n)(i =>
        DeltaLite.setDomainMetadata(spark, path, s"graft.d$i", s"c$i"))
      landedOnce("delta", path, n, answers, failures,
        (1L to 40L).map(k => (k, k))) &&
        ((DeltaLite.domainMetadata(spark, path) ==
          (0 until n).map(i => s"graft.d$i" -> s"c$i").toMap) :|
          s"domains ${DeltaLite.domainMetadata(spark, path)}")
    }

  property("iceberg: racing ref commits all land") =
    Prop.forAllNoShrink(writersGen) { n =>
      val path = singleFileTable("iceberg")
      val sid = IcebergLite.snapshotIdList(spark, path).head
      val (answers, failures) = raceOps(n)(i =>
        IcebergLite.setRef(spark, path, s"tag$i", sid).toLong)
      landedOnce("iceberg", path, n, answers, failures,
        (1L to 40L).map(k => (k, k))) &&
        ((0 until n).forall(i =>
          IcebergLite.refSnapshotId(spark, path, s"tag$i") == sid) :|
          "a ref is missing")
    }
}
