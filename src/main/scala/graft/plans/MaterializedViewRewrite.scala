package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DateType, DoubleType, LongType, TimestampType}

/** Optimizer rule: MATERIALIZED-VIEW ROUTING. A daily rollup written
  * against the raw base table
  *
  *   events.groupBy(to_date(ts)).agg(count(*), sum(cents(value)))
  *
  * is rewritten to re-aggregate the registered daily SUMMARY table instead
  * (`sum(cnt)`, `sum(cents)`), turning a full fact scan into a scan of
  * ~one row per day — the classic aggregate-navigation move (Oracle query
  * rewrite / BigQuery MV routing), and the read-side completion of X72's
  * incremental view MAINTENANCE. At 100 TB the routed plan reads megabytes
  * instead of the corpus.
  *
  * Correctness argument: count and sum are re-aggregatable
  * (count(*) = Σ per-day counts; sum(x) = Σ per-day sums — the same
  * partial/final algebra Spark itself uses below every shuffle), so ANY
  * grouping at day grain or coarser is answerable from the daily summary.
  * The rule trusts the registered summary the way every MV router does:
  * view maintenance (X72) is the writer's contract.
  *
  * Scope guards (all must hold, else the plan is untouched):
  *   - both `spark.graft.mv.basePath` and `spark.graft.mv.summaryPath`
  *     are set (explicit registration, default off);
  *   - the aggregate's child is ONLY Project/SubqueryAlias nodes over a
  *     single parquet scan of basePath (a Filter would need pushdown
  *     analysis against summary completeness — out of scope, documented);
  *   - every grouping expression is exactly `to_date(ts)` over the base's
  *     TimestampType `ts` column (the summary's grain);
  *   - every aggregate is `count(literal)` or `sum` of the canonical
  *     integer-cents expression `CAST(floor(value*100.0 + 0.5) AS BIGINT)`
  *     (matched by `semanticEquals`, not by name).
  *
  * Output attributes keep their original names AND exprIds, so parent
  * operators (Sort, Project, writes) resolve unchanged. Count(*) maps to
  * Sum(cnt): within any existing group cnt ≥ 1, so the null-vs-zero
  * empty-input difference cannot be observed (a day absent from the base
  * is absent from the summary too).
  */
object MaterializedViewRewrite extends Rule[LogicalPlan] {

  val BasePathKey = "spark.graft.mv.basePath"
  val SummaryPathKey = "spark.graft.mv.summaryPath"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val base = conf.getConfString(BasePathKey, "")
    val summary = conf.getConfString(SummaryPathKey, "")
    if (base.isEmpty || summary.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate => tryRoute(agg, base, summary).getOrElse(agg)
    }
  }

  /** The subtree below the aggregate must be pure column plumbing over one
    * parquet scan of basePath. */
  private def isBaseScan(plan: LogicalPlan, basePath: String): Boolean = plan match {
    case Project(projList, child) =>
      projList.forall(_.deterministic) && isBaseScan(child, basePath)
    case SubqueryAlias(_, child) => isBaseScan(child, basePath)
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.rootPaths.exists(
        _.toString.stripSuffix("/").endsWith(basePath.stripSuffix("/")))
    case _ => false
  }

  /** Day-or-coarser grain over the subtree's TimestampType `ts` column:
    * `to_date(ts)` (analyzed: a RuntimeReplaceable wrapping Cast-to-date),
    * optionally wrapped in `trunc(…, fmt)` — every TruncDate grain (week/
    * month/quarter/year) is a function of the day, so the daily summary
    * answers it by re-truncating its `d` column (aggregate navigation with
    * grain coarsening). Returns the ts attribute and the trunc format. */
  private def grainOf(e: Expression): Option[(Attribute, Option[String])] = {
    val stripped = e.transformDown {
      case r: RuntimeReplaceable => r.replacement
    }
    def day(x: Expression): Option[Attribute] = x match {
      case Cast(a: AttributeReference, DateType, _, _)
        if a.dataType == TimestampType && a.name == "ts" => Some(a)
      case _ => None
    }
    stripped match {
      case TruncDate(d, Literal(fmt, _)) if fmt != null =>
        day(d).map(a => (a, Some(fmt.toString)))
      case other => day(other).map(a => (a, None))
    }
  }

  /** The engine's canonical exact-cents rendering of the base `value`. */
  private def centsCanonical(value: Attribute): Expression =
    Cast(Floor(Add(Multiply(value, Literal(100.0)), Literal(0.5))), LongType)

  /** Fold literal casts before comparing: the SQL parser renders `100.0`
    * as a DECIMAL literal cast to double, which `semanticEquals` would
    * treat as different from a plain double literal. */
  private def normalized(e: Expression): Expression = e.transformUp {
    case c @ Cast(_: Literal, dt, _, _) if c.foldable =>
      Literal.create(c.eval(null), dt)
  }

  private def tryRoute(agg: Aggregate, basePath: String,
      summaryPath: String): Option[LogicalPlan] = {
    if (!isBaseScan(agg.child, basePath)) return None
    if (agg.groupingExpressions.size != 1) return None
    val (_, fmt) = grainOf(agg.groupingExpressions.head).getOrElse(return None)
    val value = agg.child.output
      .collectFirst { case a if a.name == "value" && a.dataType == DoubleType => a }
    val cents = value.map(centsCanonical)

    // Resolve the registered summary lazily, only once a candidate matches.
    val summaryPlan = graft.sources.ParquetDirect.read(SparkSession.active, summaryPath)
      .queryExecution.analyzed
    def out(name: String): Option[Attribute] =
      summaryPlan.output.find(_.name == name)
    val dAttr = out("d").getOrElse(return None)
    val cntAttr = out("cnt").getOrElse(return None)
    val centsAttr = out("cents").getOrElse(return None)
    if (dAttr.dataType != DateType || cntAttr.dataType != LongType ||
      centsAttr.dataType != LongType) return None

    val grainNew: Expression =
      fmt.fold(dAttr: Expression)(f => TruncDate(dAttr, Literal(f)))
    val routed = agg.aggregateExpressions.map {
      case a @ Alias(child, name) =>
        val replaced: Expression = child match {
          case g if grainOf(g).exists(_._2 == fmt) => grainNew
          case AggregateExpression(Count(Seq(Literal(_, _))), _, false, None, _) =>
            Sum(cntAttr).toAggregateExpression()
          case AggregateExpression(Sum(e, _), _, false, None, _)
            if cents.exists(c => normalized(e).semanticEquals(normalized(c))) =>
            Sum(centsAttr).toAggregateExpression()
          case _ => return None
        }
        Alias(replaced, name)(exprId = a.exprId)
      case _ => return None
    }
    Some(Aggregate(Seq(grainNew), routed, summaryPlan))
  }
}
