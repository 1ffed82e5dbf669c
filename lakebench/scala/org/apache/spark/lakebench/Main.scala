package org.apache.spark.lakebench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.time.{Instant, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.ChangeDetection
import graft.ingest.Sinks
import graft.model.{Audit, IngestionRun, Tables, TypeMapping}
import graft.sources.{DeltaLite, IcebergLite}

/** The lake benchmark's JVM side. It reads one plan (made from the seed by
  * `lakebench/plan.py`), sets the workload up, runs its closed loop of ops
  * against the program's public functions until the deadline, and writes
  * every raw timing, span, job interval and check input to one JSON file.
  * The arithmetic over those records lives in `lakebench/stats.py`.
  *
  * Usage: `Main <plan.json>`; `Main --list-pool <out.json> <sfDir> <order>`
  * probes the read-only query keys the `lake_query` pool is drawn from, and
  * `Main --oracles <out.json>` writes every key's oracle SQL. */
object Main {
  private val mapper = new ObjectMapper()

  type Query = (SparkSession, String) => DataFrame

  /** The registries `lake_query` draws from: the ones whose keys only read. */
  val readRegistries: Seq[(String, Map[String, Query], Map[String, String])] = Seq(
    ("CdcQueries", graft.cdc.CdcQueries.queries, graft.cdc.CdcQueries.oracles),
    ("ReferenceSurface", graft.relational.ReferenceSurface.queries,
      graft.relational.ReferenceSurface.oracles),
    ("CoreQueries", graft.relational.CoreQueries.queries,
      graft.relational.CoreQueries.oracles),
    ("EventAnalytics", graft.relational.EventAnalytics.queries,
      graft.relational.EventAnalytics.oracles),
    ("StatsOps", graft.relational.StatsOps.queries,
      graft.relational.StatsOps.oracles),
    ("RecordLinkage", graft.relational.RecordLinkage.queries,
      graft.relational.RecordLinkage.oracles),
    ("OrderedOps", graft.relational.OrderedOps.queries,
      graft.relational.OrderedOps.oracles),
    ("SpatialOps", graft.relational.SpatialOps.queries,
      graft.relational.SpatialOps.oracles),
    ("GraphOps", graft.relational.GraphOps.queries,
      graft.relational.GraphOps.oracles),
    ("CorpusStats", graft.llm.CorpusStats.queries, graft.llm.CorpusStats.oracles),
    ("Retrieval", graft.llm.Retrieval.queries, graft.llm.Retrieval.oracles),
    ("LlmQueries", graft.llm.LlmQueries.queries, graft.llm.LlmQueries.oracles),
    ("TrainingSets", graft.llm.TrainingSets.queries,
      graft.llm.TrainingSets.oracles),
    ("FeatureOps", graft.llm.FeatureOps.queries, graft.llm.FeatureOps.oracles),
    ("Integrity", graft.ingest.Integrity.queries, graft.ingest.Integrity.oracles))

  def main(args: Array[String]): Unit =
    args.headOption match {
      case Some("--list-pool") => listPool(args(1), args(2), args(3).toInt)
      case Some("--oracles") =>
        val o = mapper.createObjectNode()
        graft.SparkEntry.oracleSql.foreach { case (k, v) => o.put(k, v) }
        mapper.writeValue(new File(args(1)), o)
      case _ => new Run(mapper.readTree(new File(args(0)))).run()
    }

  /** The benchmark's session: one process, `local[cpus]`, as many shuffle
    * partitions as cores. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // µs parquet timestamps, as the DuckDB-side checks read them
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Every key of the read-only registries that has an oracle and does not
    * write (`sink_*`, `audit_*`), with its registry, its time as the first
    * execution of a key in a session on `sfDir` (keys run in an order
    * shuffled by `order`), and whether it builds or reuses a session memo:
    * a [[graft.relational.SessionIndex]] entry or a memoized dedup cluster
    * relation. This session's entries are dropped before each key; any
    * entry the key adds marks it. */
  private def listPool(out: String, sfDir: String, order: Int): Unit = {
    val scratch = Files.createTempDirectory("lakebench_pool").toString
    val spark = session(Runtime.getRuntime.availableProcessors, scratch)
    def memo(owner: AnyRef, suffix: String): java.util.Map[String, DataFrame] = {
      val f = owner.getClass.getDeclaredFields.find(_.getName.endsWith(suffix)).get
      f.setAccessible(true)
      f.get(owner).asInstanceOf[java.util.Map[String, DataFrame]]
    }
    val indexMemo = memo(graft.relational.SessionIndex, "memo")
    val clusterMemo = memo(graft.llm.Dedup, "clusterMemo")
    val keys = for ((reg, qs, oracles) <- readRegistries; key <- qs.keys.toSeq.sorted
         if oracles.contains(key) && !key.startsWith("sink_") &&
           !key.startsWith("audit_")) yield (reg, key, qs(key))
    val arr = mapper.createArrayNode()
    def entries() = indexMemo.keySet.asScala.toSet ++ clusterMemo.keySet.asScala
    new scala.util.Random(order).shuffle(keys).foreach { case (reg, key, fn) =>
      graft.relational.SessionIndex.reset(spark)
      graft.llm.Dedup.releaseSharedClusters(spark)
      val before = entries()
      val t0 = System.nanoTime()
      graft.Verify.dumpKey(spark, key, fn, sfDir, s"$scratch/dumps")
      arr.addObject().put("key", key).put("registry", reg)
        .put("cold_s", (System.nanoTime() - t0) / 1e9)
        .put("session_memo", !entries().subsetOf(before))
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(out), arr)
    spark.stop()
  }
}

/** One benchmark run, as the plan describes it. */
final class Run(plan: JsonNode) {
  import Main.Query

  private val workload = plan.get("workload").asText()
  private val sfDir = plan.get("sf_dir").asText()
  private val work = plan.get("work_dir").asText()
  private val seconds = plan.get("seconds").asDouble()
  private val cpus = plan.get("cpus").asInt()
  private val mapper = new ObjectMapper()
  private val result: ObjectNode = mapper.createObjectNode()

  private val spark = Main.session(cpus, work)
  private val sessionS = (System.currentTimeMillis() -
    ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
  private val tracer = new Tracer(spark, plan.get("trace").asInt() == 1)
  import tracer.span

  // ---------------------------------------------------------------- records

  private val ops = mapper.createArrayNode()
  private var opCount = 0

  /** Run `body` as op number `opCount`: timed from outside, every Spark job
    * it starts tagged with its id. Returns the op's record, already added. */
  private def op(kind: String, name: String)(body: ObjectNode => Boolean)
      : ObjectNode = {
    val rec = ops.addObject().put("id", opCount).put("kind", kind)
      .put("name", name)
    tracer.beginOp(opCount)
    val t0 = tracer.nowMs()
    val ok = try body(rec) catch { case e: Throwable =>
      rec.put("error", s"${e.getClass.getName}: ${e.getMessage}")
      false
    }
    val t1 = tracer.nowMs()
    tracer.endOp()
    opCount += 1
    rec.put("start_ms", t0).put("end_ms", t1).put("ok", ok)
  }

  private def seq(node: JsonNode): Seq[JsonNode] = node.elements().asScala.toSeq

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
  }

  /** (relative path → size) of every regular file under `dir`. */
  private def listing(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.size(p)).toMap
  }

  private def du(dir: String): Long = listing(dir).values.sum

  // ------------------------------------------------------------------ setup

  private val setupParts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private def timed(part: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    setupParts.getOrElseUpdate(part, mutable.ArrayBuffer.empty) +=
      (System.nanoTime() - t0) / 1e9
  }

  /** The repeated part of the set-up: JIT and writer warm-up and the
    * listing of every table. Run several times; each part's median counts. */
  private def setupOnce(): Unit = {
    timed("jit") {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      spark.range(8L).coalesce(1).write.mode("overwrite").parquet(s"$work/warm")
    }
    timed("tables")(Tables.names.foreach(t => source(t).schema))
  }

  /** The workload's fixture, built once: an empty raw zone and audit
    * sink, the two tables, or an empty dump directory after the JVM
    * warm-up keys of the plan (`lakebench/plan.py`), none of which the
    * timed region runs. It is timed but not repeated: creating the tables
    * takes seconds. No session index is built: the `lake_query` pool leaves
    * out the keys that use a session memo (`lakebench/make_pool.py`). */
  private def fixture(): Unit = timed("fixture") {
    workload match {
      case "ingest_cycle" => Seq(rawZone, auditDir).foreach(deleteTree)
      case "table_dml" => createTables()
      case "lake_query" =>
        val queries = graft.SparkEntry.queries
        seq(plan.get("lake").get("warmup")).foreach { k =>
          val key = k.get("key").asText()
          graft.Verify.dumpKey(spark, key, queries(key), sfDir, s"$work/warmup")
        }
        Seq(s"$work/warmup", dumpDir).foreach(deleteTree)
    }
  }

  private def source(t: String): DataFrame =
    if (t == "events") Tables.events(spark, sfDir) else Tables.load(spark, sfDir, t)

  // ----------------------------------------------------------- ingest_cycle

  private val rawZone = s"$work/raw"
  private val auditDir = s"$work/audit"

  private def catalogDf(cycle: JsonNode): DataFrame = {
    import spark.implicits._
    seq(cycle.get("catalog")).map { e =>
      val u = e.get(1)
      (e.get(0).asText(),
        if (u.isNull) None else Some(Instant.EPOCH.plusNanos(u.asLong() * 1000L)))
    }.toDF("table_name", "update_time")
  }

  private def history(): DataFrame =
    if (new File(auditDir).exists()) Sinks.read(spark, auditDir)
    else Audit.toDF(spark, Seq.empty)

  private lazy val cycleRecs = result.putArray("cycles")
  private var bytesWritten, userBytes = 0L

  /** One table's ingest, the reference's per-table job: load, schema
    * translation, overwrite into the raw zone, row count, audit row. */
  private def ingestTable(t: String, exec: Instant): Long = {
    val df = span("model.load")(source(t))
    span("model.type_map")(TypeMapping.ddlAsDataFrame(df).collect())
    span("ingest.overwrite")(Sinks.overwrite(df, s"$rawZone/$t"))
    val n = span("ingest.row_count")(df.count())
    span("ingest.audit_append") {
      Sinks.append(Audit.toDF(spark, Seq(IngestionRun(t, "sf0.1",
        n, exec.atZone(ZoneOffset.UTC).toLocalDate, exec))), auditDir)
    }
    n
  }

  /** One controller cycle: detect the changed tables, ingest each as an
    * op, then re-check. Stops between tables at the deadline; a cut cycle
    * is marked incomplete and not re-checked. */
  private def ingestCycle(cycle: JsonNode, deadline: Double): Unit = {
    val exec = Instant.EPOCH.plusNanos(cycle.get("exec_us").asLong() * 1000L)
    val catalog = catalogDf(cycle)
    val rec = cycleRecs.addObject().put("start_ms", tracer.nowMs())
    val changed = span("cdc.changed_tables") {
      ChangeDetection.changedTables(catalog, history())
        .select("table_name").collect().map(_.getString(0)).toSeq
    }
    val got = rec.putArray("changed")
    changed.foreach(got.add)
    val ingested = rec.putArray("ingested")
    var complete = true
    for (t <- changed) {
      if (tracer.nowMs() >= deadline) complete = false
      if (complete) {
        val before = listing(s"$rawZone/$t")
        op("ingest", t) { r =>
          r.put("rows", ingestTable(t, exec)).put("cycle", cycleRecs.size() - 1)
          true
        }
        bytesWritten += listing(s"$rawZone/$t").collect {
          case (f, sz) if !before.get(f).contains(sz) => sz
        }.sum
        userBytes += new File(s"$sfDir/$t.parquet").length()
        ingested.add(t)
      }
    }
    rec.put("complete", complete)
    if (complete) rec.put("recheck", span("cdc.changed_tables") {
      ChangeDetection.changedTables(catalog, history()).count()
    })
    rec.put("end_ms", tracer.nowMs())
  }

  private def runIngest(deadline: Double): Unit = {
    seq(plan.get("ingest").get("cycles")).iterator
      .takeWhile(_ => tracer.nowMs() < deadline).foreach(ingestCycle(_, deadline))
    result.put("timed_end_ms", tracer.nowMs())
    bytesWritten += du(auditDir)
    result.put("bytes_written", bytesWritten).put("user_bytes", userBytes)
      .put("raw_zone", rawZone).put("audit_dir", auditDir)
  }

  // ------------------------------------------------------------- lake_query

  private val dumpDir = s"$work/dumps"

  /** Runs the plan's keys until the deadline, and past it until the first
    * round is done, so every run reaches every registry. Only the part
    * before the deadline counts for ops_per_s. */
  private def runLake(deadline: Double): Unit = {
    val queries = graft.SparkEntry.queries
    val oracles = graft.SparkEntry.oracleSql
    val sql = result.putObject("oracle_sql")
    result.put("dump_dir", dumpDir)
    val firstRound = plan.get("lake").get("first_round").asInt()
    val it = seq(plan.get("lake").get("keys")).iterator
    while (it.hasNext && (opCount < firstRound || tracer.nowMs() < deadline)) {
      val k = it.next()
      val key = k.get("key").asText()
      val fn: Query = queries(key)
      op("query", key) { r =>
        r.put("registry", k.get("registry").asText())
        span("query.materialize") {
          graft.Verify.dumpKey(spark, key,
            (s: SparkSession, d: String) => span("query.build")(fn(s, d)),
            sfDir, dumpDir)
        }
      }
      sql.put(key, oracles(key))
    }
    result.put("timed_end_ms", tracer.nowMs())
  }

  /** The session indexes graft.Bench builds in its set-up, timed one by
    * one. The sampled keys use none of them (`lakebench/make_pool.py`), so
    * a traced run builds them after its op loop: they are measured without
    * being charged to the untraced runs' set-up. */
  private def buildIndexes(): Unit = {
    span("setup.postings")(graft.llm.PostingsIndex.warm(spark, sfDir))
    span("setup.vector_index")(graft.llm.VectorIndex.warm(spark, sfDir))
    span("setup.shingle_bands") {
      graft.llm.Dedup.shingleIds(spark, sfDir).count()
      graft.llm.Dedup.rankedShingleIndex(spark, sfDir)
      graft.llm.Dedup.minhashBandIndex(spark, sfDir)
      graft.llm.Dedup.simhashBandIndex(spark, sfDir)
    }
  }

  // -------------------------------------------------------------- table_dml

  private val deltaTable = s"$work/tables/delta_orders"
  private val icebergTable = s"$work/tables/iceberg_orders"
  private def tableOf(fmt: String) = if (fmt == "delta") deltaTable else icebergTable
  private val Key = "o_orderkey"

  private lazy val orders: DataFrame = Tables.orders(spark, sfDir).select(
    col(Key), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
    to_date(col("o_orderdate")).as("o_orderdate"), col("o_orderpriority"))

  private def keyRange(lo: Long, hi: Long): DataFrame =
    orders.where(col(Key).between(lo, hi))

  /** Rows of `orders` with keys [srcLo, srcLo + n), renumbered from newKey. */
  private def shifted(srcLo: Long, n: Long, newKey: Long): DataFrame =
    keyRange(srcLo, srcLo + n - 1).withColumn(Key, col(Key) + (newKey - srcLo))

  private def createTables(): Unit = {
    deleteTree(s"$work/tables")
    val files = plan.get("dml").get("files").asInt()
    val init = orders.repartitionByRange(files, col(Key)).sortWithinPartitions(Key)
    DeltaLite.write(spark, init, deltaTable, collectStats = true)
    IcebergLite.write(spark, init, icebergTable, boundsColumn = Some(Key))
    IcebergLite.upgradeFormatVersion(spark, icebergTable, 3)
  }

  private def write(fmt: String, df: DataFrame): Unit =
    if (fmt == "delta") DeltaLite.write(spark, df, deltaTable, collectStats = true)
    else IcebergLite.write(spark, df, icebergTable, boundsColumn = Some(Key))

  private def read(fmt: String): DataFrame =
    if (fmt == "delta") DeltaLite.read(spark, deltaTable)
    else IcebergLite.read(spark, icebergTable)

  /** Apply one planned commit; returns (rows applied, rows changed). */
  private def commit(o: JsonNode): (Long, Long) = {
    val fmt = o.get("fmt").asText()
    val kind = o.get("kind").asText()
    val table = tableOf(fmt)
    def l(f: String) = o.get(f).asLong()
    span(s"sources.$fmt.$kind") {
      kind match {
        case "append" =>
          write(fmt, shifted(l("src_lo"), l("n"), l("new_key")))
          (l("n"), 0L)
        case "merge" =>
          val src = keyRange(l("lo"), l("hi"))
            .withColumn("o_totalprice", col("o_totalprice") + 0.5)
            .withColumn("o_orderstatus", lit("M"))
            .unionByName(shifted(l("src_lo"), l("n"), l("new_key")))
          val applied = l("hi") - l("lo") + 1 + l("n")
          if (fmt == "delta") {
            val (_, u, d, i) = DeltaLite.mergeInto(spark, table, src, Key)
            (applied, u + d + i)
          } else {
            val (_, u, i) = IcebergLite.mergeInto(spark, table, src, Key)
            (applied, u + i)
          }
        case "update" =>
          val set = Map[String, Column](
            "o_totalprice" -> (col("o_totalprice") + 1.0),
            "o_orderstatus" -> lit("U"))
          val n =
            if (fmt == "delta") DeltaLite.updateWhere(spark, table, Key, l("lo"), l("hi"), set)._3
            else IcebergLite.updateWhere(spark, table, Key, l("lo"), l("hi"), set)._2
          (n, n)
        case "delete" =>
          val n =
            if (fmt == "delta") DeltaLite.deleteWhere(spark, table, Key, l("lo"), l("hi"))._3
            else IcebergLite.deleteWhere(spark, table, Key, l("lo"), l("hi"))._2
          (n, n)
        case "dv_delete" =>
          val n =
            if (fmt == "delta") DeltaLite.deleteWhereDV(spark, table, Key, l("lo"), l("hi"))._3
            else IcebergLite.deleteWhereDV(spark, table, Key, l("lo"), l("hi"))._2
          (n, n)
      }
    }
  }

  private def isMeta(fmt: String, rel: String): Boolean =
    if (fmt == "delta") rel.startsWith("_delta_log") else rel.startsWith("metadata")

  /** Rows in the parquet data files `rel` of `table`, from their footers. */
  private def footerRows(table: String, rels: Iterable[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    rels.filter(_.endsWith(".parquet")).map { rel =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$table/$rel"), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum finally r.close()
    }.sum
  }

  private def runDml(deadline: Double): Unit = {
    val every = plan.get("dml").get("maintenance_every").asInt()
    val reads = result.putArray("reads")
    val maint = result.putArray("maintenance")
    val it = seq(plan.get("dml").get("ops")).iterator
    var commits = 0
    while (it.hasNext && tracer.nowMs() < deadline) {
      val o = it.next()
      val fmt = o.get("fmt").asText()
      val table = tableOf(fmt)
      val before = listing(table)
      val rec = op("commit", s"$fmt.${o.get("kind").asText()}") { r =>
        val (applied, changed) = commit(o)
        r.put("rows", applied).put("changed", changed)
        true
      }
      rec.put("fmt", fmt).put("kind", o.get("kind").asText())
      val fresh = listing(table).filter { case (f, _) => !before.contains(f) }
      val (meta, data) = fresh.partition { case (f, _) => isMeta(fmt, f) }
      rec.put("bytes_written", fresh.values.sum)
        .put("data_files", data.size).put("meta_files", meta.size)
      if (tracer.enabled) rec.put("rows_rewritten", footerRows(table, data.keys))
      val r0 = tracer.nowMs()
      span(s"sources.$fmt.read") {
        read(fmt).agg(count(lit(1)),
          bit_xor(xxhash64(orders.columns.map(col).toIndexedSeq: _*))).collect()
      }
      reads.addObject().put("fmt", fmt).put("start_ms", r0).put("end_ms", tracer.nowMs())
      commits += 1
      if (commits % every == 0) Seq("delta", "iceberg").foreach { f =>
        val t = tableOf(f)
        val b = listing(t)
        val m0 = tracer.nowMs()
        span(s"sources.$f.maintenance") {
          if (f == "delta") DeltaLite.checkpoint(spark, t)
          else IcebergLite.rewriteDataFiles(spark, t,
            targetFiles = plan.get("dml").get("files").asInt())
        }
        val fresh = listing(t).filter { case (p, _) => !b.contains(p) }
        maint.addObject().put("fmt", f).put("start_ms", m0)
          .put("end_ms", tracer.nowMs()).put("bytes_written", fresh.values.sum)
          .put("data_files", fresh.count { case (p, _) => !isMeta(f, p) })
          .put("meta_files", fresh.count { case (p, _) => isMeta(f, p) })
      }
    }
    result.put("timed_end_ms", tracer.nowMs())
    // final contents and footprint, outside the timed region: the dump is
    // the compact rewrite space_amp divides by, and what the replay checks
    val finals = result.putObject("finals")
    Seq("delta", "iceberg").foreach { f =>
      val dump = s"$work/final_$f"
      read(f).coalesce(1).write.mode("overwrite").parquet(dump)
      finals.putObject(f).put("dump", dump).put("disk_bytes", du(tableOf(f)))
        .put("compact_bytes", listing(dump).collect {
          case (p, sz) if p.endsWith(".parquet") => sz }.sum)
    }
    result.put("orders_bytes_per_row", {
      val dump = s"$work/orders_compact"
      orders.coalesce(1).write.mode("overwrite").parquet(dump)
      listing(dump).collect { case (p, sz) if p.endsWith(".parquet") => sz }
        .sum.toDouble / orders.count()
    })
  }

  // -------------------------------------------------------------------- run

  /** Used heap after the set-up's garbage is gone: the listener bus drained,
    * then full GCs with pauses between them, so the context cleaner can
    * drop the blocks and broadcasts whose references the previous GC
    * cleared. The lowest reading counts. */
  private def usedHeapMb(): Double = {
    spark.sparkContext.listenerBus.waitUntilEmpty()
    val rt = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min
  }

  def run(): Unit = {
    val reps = plan.get("setup_reps").asInt()
    (1 to reps).foreach(_ => setupOnce())
    fixture()
    val heapMb = usedHeapMb()
    val setup = result.putObject("setup").put("session_s", sessionS)
      .put("heap_mb", heapMb)
    val parts = setup.putObject("parts")
    setupParts.foreach { case (k, v) =>
      val a = parts.putArray(k)
      v.foreach(x => a.add(x))
    }
    setup.put("setup_s", sessionS + setupParts.values.map(v => median(v.toSeq)).sum)

    val t0 = tracer.nowMs()
    val deadline = t0 + seconds * 1000
    workload match {
      case "ingest_cycle" => runIngest(deadline)
      case "lake_query" => runLake(deadline)
      case "table_dml" => runDml(deadline)
    }
    result.put("timed_start_ms", t0).put("deadline_ms", deadline)
    result.set[ArrayNode]("ops", ops)
    if (tracer.enabled && workload == "lake_query") buildIndexes()
    tracer.drain()
    if (tracer.enabled) {
      val spans = result.putArray("spans")
      tracer.spans.foreach { s =>
        spans.addObject().put("id", s.id).put("name", s.name)
          .put("parent", s.parent).put("op", s.op)
          .put("start_ms", s.startMs).put("end_ms", s.endMs)
      }
      val jobs = result.putArray("jobs")
      tracer.jobs.foreach { j =>
        jobs.addObject().put("op", j.op).put("tagged", j.tagged)
          .put("start_ms", j.startMs).put("end_ms", j.endMs)
      }
      val eng = result.putObject("engine")
      tracer.engine.foreach { case (op, g) =>
        eng.putObject(op.toString)
          .put("jobs", g.jobs).put("stages", g.stages).put("tasks", g.tasks)
          .put("task_ms", g.taskMs).put("shuffle_write_bytes", g.shuffleWriteBytes)
          .put("input_bytes", g.inputBytes).put("output_bytes", g.outputBytes)
          .put("analysis_ms", g.analysisMs)
          .put("optimization_ms", g.optimizationMs)
          .put("planning_ms", g.planningMs)
          .put("codegen_compiles", g.codegenCompiles)
          .put("codegen_ns", g.codegenNs)
      }
    }
    mapper.writeValue(new File(plan.get("result").asText()), result)
    spark.stop()
  }
}
