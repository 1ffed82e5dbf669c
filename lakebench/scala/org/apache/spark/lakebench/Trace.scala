package org.apache.spark.lakebench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the enclosing span's id (-1 at
  * the top), `op` the op every span of one request shares (-1 outside any
  * op). Times are milliseconds since the tracer was made, on the same clock
  * as Spark's listener event times. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Double, endMs: Double)

/** One Spark job: its start and end as the listener bus reported them, and
  * the op it counts for. `tagged` says whether the job carried the op's
  * local property; an untagged job counts for the op open when the
  * listener sees it start (-1 for none). */
final case class JobInterval(op: Int, tagged: Boolean, startMs: Double,
    endMs: Double)

/** Engine counters of one op, summed over every job, stage, task and query
  * execution the op caused. */
final class OpEngine {
  var jobs, stages, tasks = 0L
  var taskMs, shuffleWriteBytes, inputBytes, outputBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var codegenCompiles, codegenNs = 0L
}

/** The benchmark's tracer. Off (`enabled = false`) it records only op
  * boundaries, which the end-to-end metrics need; on, it adds spans around
  * each layer call, a SparkListener, a QueryExecutionListener reading the
  * planning phases off `qe.tracker`, and the codegen compile counters.
  * Everything stays in memory until the run writes it out. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val epochOffsetMs =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  private val originMs = System.currentTimeMillis().toDouble

  /** Milliseconds since the tracer was made, on the wall clock. */
  def nowMs(): Double = System.nanoTime() / 1e6 + epochOffsetMs - originMs
  private def fromEpoch(ms: Long): Double = ms.toDouble - originMs

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.ArrayBuffer.empty[JobInterval]
  val engine = mutable.LinkedHashMap.empty[Int, OpEngine]
  private val stack = mutable.Stack.empty[Int]
  private var nextSpan = 0
  @volatile private var currentOp = -1
  private var codegenAtStart = (0L, 0L)

  private val OpProperty = "lakebench.op"

  // listener-bus state; the bus thread and the driver thread share one lock
  private def locked[T](body: => T): T = Tracer.this.synchronized(body)
  private val jobStarts = mutable.HashMap.empty[Int, (Int, Boolean, Double)]
  private val stageOp = mutable.HashMap.empty[Int, Int]

  private def tagOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(OpProperty))).map(_.toInt)

  private def eng(op: Int): Option[OpEngine] =
    if (op < 0) None else Some(engine.getOrElseUpdate(op, new OpEngine))

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = locked {
        val tag = tagOf(e.properties)
        val op = tag.getOrElse(currentOp)
        jobStarts(e.jobId) = (op, tag.isDefined, fromEpoch(e.time))
        e.stageIds.foreach(stageOp(_) = op)
        eng(op).foreach(_.jobs += 1)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = locked {
        jobStarts.remove(e.jobId).foreach { case (op, tagged, start) =>
          jobs += JobInterval(op, tagged, start, fromEpoch(e.time))
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        locked {
          eng(stageOp.getOrElse(e.stageInfo.stageId, -1)).foreach(_.stages += 1)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = locked {
        eng(stageOp.getOrElse(e.stageId, -1)).foreach { g =>
          g.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            g.taskMs += m.executorRunTime
            g.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            g.inputBytes += m.inputMetrics.bytesRead
            g.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def phases(qe: QueryExecution): Unit = locked {
        eng(currentOp).foreach { g =>
          val ph = qe.tracker.phases
          def ms(name: String) = ph.get(name).map(_.durationMs).getOrElse(0L)
          g.analysisMs += ms(QueryPlanningTracker.ANALYSIS)
          g.optimizationMs += ms(QueryPlanningTracker.OPTIMIZATION)
          g.planningMs += ms(QueryPlanningTracker.PLANNING)
        }
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        phases(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        phases(qe)
    })
  }

  private def codegenNow(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Start op `id`: every Spark job the driver thread starts until [[endOp]]
    * carries the id as a local property. */
  def beginOp(id: Int): Unit = {
    currentOp = id
    spark.sparkContext.setLocalProperty(OpProperty, id.toString)
    if (enabled) codegenAtStart = codegenNow()
  }

  /** End the current op. Traced, this waits for the listener bus to
    * deliver every event of the op, so no event crosses into the next. */
  def endOp(): Unit = {
    if (enabled) {
      val (n, ns) = codegenNow()
      spark.sparkContext.listenerBus.waitUntilEmpty()
      locked {
        eng(currentOp).foreach { g =>
          g.codegenCompiles += n - codegenAtStart._1
          g.codegenNs += ns - codegenAtStart._2
        }
      }
    }
    spark.sparkContext.setLocalProperty(OpProperty, null)
    currentOp = -1
  }

  /** Time `body` as a call into layer `name`, nested under the innermost
    * open span. A no-op wrapper when tracing is off. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = nowMs()
      try body
      finally {
        stack.pop()
        spans += Span(id, name, parent, currentOp, t0, nowMs())
      }
    }

  /** Drain the listener bus before the recorded jobs are read. */
  def drain(): Unit =
    if (enabled) spark.sparkContext.listenerBus.waitUntilEmpty()
}
