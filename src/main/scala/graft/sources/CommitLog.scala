package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Optimistic single-winner commit protocol for the X36 snapshot log — the
  * concurrent-writer story the plain append-only emulation lacked, built
  * jar-free on the same primitive the Delta LogStore contract demands of
  * HDFS-class filesystems (Armbrust et al., VLDB 2020, PAPERS.md:9;
  * cf. the reference's unconditional overwrite/append sinks,
  * Sites/DataProc_Script/spark_ingest_slmandicprd.py:99-103,137-141):
  *
  *   - Data files for a candidate version land under `data/v<N>-<token>/`
  *     — INVISIBLE to readers until committed (readers only follow
  *     manifests; orphaned staging dirs are deletable garbage).
  *   - A version COMMITS by atomically creating `_log/<N>` via
  *     `FileSystem.create(path, overwrite = false)` — exactly one of two
  *     concurrent writers racing for version N wins; the loser sees
  *     FileAlreadyExists, cleans its staging dir, re-reads the log, and
  *     retries at N+1 (optimistic concurrency, bounded retries).
  *   - The manifest's ONLY content is the staging dir name: the commit
  *     point is one atomic metadata operation, never a data copy, so a
  *     reader at any instant sees a prefix of committed versions and no
  *     torn state.
  *
  * Read semantics match [[FormatQueries]]' snapshot key: each commit is a
  * row-level upsert batch; `read(asOf = v)` unions the manifests ≤ v and
  * keeps each key's latest version. Scale: the log directory holds one
  * tiny file per version (listable metadata, checkpointable the way Delta
  * compacts JSON actions into parquet checkpoints); data stays columnar
  * parquet; the only driver work is manifest bookkeeping.
  */
object CommitLog {

  private def hadoopFs(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(table: String) = new Path(table, "_log")

  private def listLog(fs: FileSystem, table: String): Array[String] = {
    val dir = logDir(table)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).map(_.getPath.getName)
  }

  private def manifestVersions(names: Array[String]): Array[Int] =
    names.flatMap(n => scala.util.Try(n.toInt).toOption)

  private def checkpointVersions(names: Array[String]): Array[Int] =
    names.filter(_.endsWith(".ckpt"))
      .flatMap(n => scala.util.Try(n.stripSuffix(".ckpt").toInt).toOption)

  /** Highest committed version, 0 if none. A checkpoint (see [[expire]])
    * counts: after full compaction the table's version floor must still
    * advance new commits past it. */
  def latestVersion(spark: SparkSession, table: String): Int = {
    val fs = hadoopFs(spark, table)
    val names = listLog(fs, table)
    (manifestVersions(names) ++ checkpointVersions(names)).foldLeft(0)(math.max)
  }

  /** Attempt to commit `stagedDir` as exactly `version`. Returns true iff
    * THIS writer created the manifest — the atomic-create race arbiter. */
  private[graft] def tryCommit(spark: SparkSession, table: String,
      version: Int, stagedDir: String): Boolean = {
    val fs = hadoopFs(spark, table)
    fs.mkdirs(logDir(table))
    val manifest = new Path(logDir(table), version.toString)
    AtomicCreate.create(fs, manifest,
      stagedDir.getBytes(StandardCharsets.UTF_8))
  }

  /** Stage `batch` (schema: key, payload columns) and commit it as the next
    * version, retrying past concurrent winners. Returns the version won. */
  def commit(spark: SparkSession, table: String, batch: DataFrame): Int =
    stageAndCommit(spark, table, batch, marker = "-")

  /** One [[Occ.commit]]: stage `batch` under `data/v<N><marker><token>`
    * and claim `_log/<N>`; a lost race removes the orphaned staging dir
    * and retries against the advanced log. */
  private def stageAndCommit(spark: SparkSession, table: String,
      batch: DataFrame, marker: String): Int = {
    val fs = hadoopFs(spark, table)
    Occ.commit("commit", table)(latestVersion(spark, table)) { base =>
      val v = base + 1
      val token = java.util.UUID.randomUUID().toString.take(8)
      val staged = s"data/v$v$marker$token"
      batch.write.mode("errorifexists").parquet(s"$table/$staged")
      if (tryCommit(spark, table, v, staged)) Some(v)
      else { fs.delete(new Path(table, staged), true); None }
    }
  }

  /** Snapshot read: union every committed manifest ≤ `asOf` (default: all),
    * tag rows with their commit version, keep each key's latest row. Only
    * manifest-named files are read — uncommitted staging dirs and orphans
    * are invisible by construction. When a checkpoint ≤ `asOf` exists (see
    * [[expire]]), the LARGEST such checkpoint replaces every manifest at or
    * below it: the checkpoint parquet carries each row's ORIGINAL commit
    * version in `__v`, so reads at or above the retention floor are
    * bit-identical before and after expiry. Reads entirely below the floor
    * refuse — that history has been vacuumed. */
  def read(spark: SparkSession, table: String, keyCol: String,
      asOf: Int = Int.MaxValue): DataFrame = {
    val fs = hadoopFs(spark, table)
    val dir = logDir(table)
    val names = listLog(fs, table)
    val ckpt = checkpointVersions(names).filter(_ <= asOf)
      .sorted.lastOption
    val floor = ckpt.getOrElse(0)
    val versions = manifestVersions(names)
      .filter(v => v > floor && v <= asOf).sorted.toSeq
    require(ckpt.nonEmpty || versions.nonEmpty,
      s"no committed versions <= $asOf in $table" +
        (if (checkpointVersions(names).nonEmpty)
          s" (history below the retention floor ${checkpointVersions(names).min} was expired)"
        else ""))
    val ckptPart = ckpt.toSeq.map { c =>
      val staged =
        new String(readFully(fs, new Path(dir, s"$c.ckpt")), StandardCharsets.UTF_8)
      ParquetDirect.read(spark, s"$table/$staged")
        .withColumn("version", col("__v")).drop("__v")
    }
    val parts = ckptPart ++ versions.map { v =>
      val manifest = new Path(dir, v.toString)
      val staged = new String(readFully(fs, manifest), StandardCharsets.UTF_8)
      ParquetDirect.read(spark, s"$table/$staged").withColumn("version", lit(v))
    }
    val log = parts.reduce(_.unionByName(_))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col("version").desc)
    log.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("rn")
  }

  /** X36d: idempotent commit — the exactly-once hook for streaming sinks
    * (Spark's foreachBatch contract: a micro-batch MAY be redelivered
    * after a failure, identified by its monotonic batchId; the sink must
    * make the second delivery a no-op — the same txnAppId/txnVersion
    * design Delta's streaming writer uses). The batch id travels IN the
    * staged dir name (`data/v<N>-b<id>-<token>`), so the committed log
    * itself is the dedup ledger — no side state to drift. A redelivered
    * batch finds its id among committed manifests and returns the
    * original version without writing. Caveat shared with Delta:
    * [[expire]] compacts manifests away, so retention must keep at least
    * the reprocessing horizon or a replay older than the floor would
    * re-append (document, don't guess: keepLast ≥ max replayable lag). */
  def commitIdempotent(spark: SparkSession, table: String, batch: DataFrame,
      batchId: Long): Int = {
    val fs = hadoopFs(spark, table)
    val marker = s"-b$batchId-"
    val existing = listLog(fs, table)
      .flatMap(n => scala.util.Try(n.toInt).toOption)
      .find { v =>
        val staged =
          new String(readFully(fs, new Path(logDir(table), v.toString)),
            StandardCharsets.UTF_8)
        staged.contains(marker)
      }
    existing.getOrElse(stageAndCommit(spark, table, batch, marker))
  }

  /** X36c: retention (vacuum + checkpoint) — compact every version ≤
    * (latest − keepLast) into one parquet checkpoint and physically delete
    * the compacted manifests and their staging dirs. The Delta-shaped
    * maintenance op (checkpoint + log cleanup + VACUUM) the snapshot log
    * needs to stop growing without bound, with the same crash-safe
    * ordering: (1) stage the compacted state under `data/ckpt-v<cut>-…`;
    * (2) publish it by atomic create of `_log/<cut>.ckpt` — the same
    * single-winner arbiter as [[commit]], so concurrent expires race
    * safely; (3) only THEN delete superseded manifests, their data dirs,
    * and older checkpoints. A crash before (2) changes nothing a reader
    * sees; between (2) and (3) both the checkpoint and the stale manifests
    * are present and reads stay correct (the checkpoint shadows them).
    * Compacted rows keep their original commit version (`__v`), so any
    * read at or above the new floor is identical pre/post. Returns the new
    * floor, or 0 when there is nothing to expire. */
  def expire(spark: SparkSession, table: String, keyCol: String,
      keepLast: Int): Int = {
    require(keepLast >= 0, "keepLast must be >= 0")
    val fs = hadoopFs(spark, table)
    val names = listLog(fs, table)
    val latest =
      (manifestVersions(names) ++ checkpointVersions(names)).foldLeft(0)(math.max)
    val oldFloor = checkpointVersions(names).foldLeft(0)(math.max)
    val cut = latest - keepLast
    if (cut < 1 || cut <= oldFloor) return 0
    val compacted = read(spark, table, keyCol, asOf = cut)
      .withColumnRenamed("version", "__v")
    val token = java.util.UUID.randomUUID().toString.take(8)
    val staged = s"data/ckpt-v$cut-$token"
    compacted.write.mode("errorifexists").parquet(s"$table/$staged")
    val ckFile = new Path(logDir(table), s"$cut.ckpt")
    val won =
      AtomicCreate.create(fs, ckFile,
        staged.getBytes(StandardCharsets.UTF_8)) // concurrent expire arbiter
    if (!won) {
      fs.delete(new Path(table, staged), true)
      return 0
    }
    // cleanup: superseded manifests + their staging dirs, and older ckpts
    listLog(fs, table).foreach { n =>
      val mv = scala.util.Try(n.toInt).toOption
      val cv =
        if (n.endsWith(".ckpt"))
          scala.util.Try(n.stripSuffix(".ckpt").toInt).toOption
        else None
      val supersededManifest = mv.exists(_ <= cut)
      val supersededCkpt = cv.exists(_ < cut)
      if (supersededManifest || supersededCkpt) {
        val p = new Path(logDir(table), n)
        val stagedDir = new String(readFully(fs, p), StandardCharsets.UTF_8)
        fs.delete(new Path(table, stagedDir), true)
        fs.delete(p, false)
      }
    }
    cut
  }

  private def readFully(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }
}
