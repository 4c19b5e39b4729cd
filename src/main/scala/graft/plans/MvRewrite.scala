package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.DecimalType

/** A registered materialized aggregate: the summary parquet at `mvPath`
  * pre-aggregates the base table at `sourcePath` by `groupCols`,
  * carrying re-aggregable measures only:
  *
  *  - `dec4Sums`: source column → MV column holding
  *    `sum(CAST(col AS DECIMAL(18,4)))` — the engine's exact
  *    double-sum bridge, so partial sums re-sum to the bit-identical
  *    total (a double-typed MV sum would NOT qualify: re-adding
  *    partials folds in a different order);
  *  - `cntCol`: MV column holding `count(*)` per group;
  *  - `mins`/`maxs`: source column → MV column of the per-group
  *    min/max (min of mins = global min — always re-aggregable).
  */
case class MvDef(
    name: String,
    sourcePath: String,
    mvPath: String,
    groupCols: Set[String],
    dec4Sums: Map[String, String],
    cntCol: String,
    mins: Map[String, String],
    maxs: Map[String, String],
    // content signature of sourcePath at build time; the rewrite rule
    // re-validates it at lookup so a regenerated source can never be
    // served a stale summary (the stale def auto-unregisters)
    sourceSig: Long = 0L)

/** Process-wide MV catalog the optimizer rule consults. Registration
  * replaces by name, so a rebuilt summary (new data signature → new
  * path) atomically supersedes the stale one. */
object MvRegistry {
  private val defs =
    new java.util.concurrent.ConcurrentHashMap[String, MvDef]()
  def register(d: MvDef): Unit = defs.put(d.name, d)
  def unregister(name: String): Unit = defs.remove(name)
  def isEmpty: Boolean = defs.isEmpty

  /** Live defs for `path`, FRESHNESS-CHECKED: a def whose recorded
    * build-time signature no longer matches the source directory is
    * unregistered and never offered to the rewrite (serving the old
    * summary after the source was regenerated in-session would be a
    * silent wrong-answer — correctness beats acceleration). The check
    * is file-listing metadata only ([[graft.Derived.signature]]), the
    * same freshness token `ensure()` builds on — at warehouse scale
    * this is one manifest read per planned aggregate, noise next to
    * the scan it replaces. */
  def forSource(spark: SparkSession, path: String): Seq[MvDef] = {
    import scala.jdk.CollectionConverters._
    defs.values.asScala.filter(_.sourcePath == path).toSeq.filter { d =>
      val fresh =
        d.sourceSig == graft.Derived.signature(spark, d.sourcePath)
      if (!fresh) defs.remove(d.name)
      fresh
    }
  }
}

/** Optimizer rule: transparent materialized-view rewrite — the classic
  * warehouse accelerator (Oracle MV rewrite, BigQuery/Snowflake MVs,
  * Calcite's `MaterializedViewRule`), re-expressed as a Catalyst
  * `Rule[LogicalPlan]` injected via [[GraftExtensions]].
  *
  * An `Aggregate` is rewritten onto a registered summary when it is
  * provably SUBSUMED by the view definition:
  *
  *  - the child chain down to the base-table scan is only
  *    attribute-projections and filters;
  *  - every filter predicate references GROUP columns of the view only
  *    (a predicate on a non-group column needs raw rows — bail);
  *  - every grouping expression is a plain attribute within the view's
  *    group columns (any strict subset works: sum/count/min/max
  *    re-aggregate, so ROLL-UPs ride the same summary);
  *  - every aggregate call in the result expressions maps onto a
  *    stored measure: `sum(CAST(c AS DECIMAL(18,4)))` → `sum(mv.sum_c)`
  *    (exact — decimal partials re-sum associatively), `count(*)` →
  *    `sum(mv.cnt)`, `min(c)`/`max(c)` → `min/max(mv.min_c/max_c)`.
  *    DISTINCT/FILTER aggregates and anything not stored bail out.
  *
  * The rewritten Aggregate preserves the original output attribute
  * ids/names/types exactly (aliases re-issued with the original
  * `ExprId`, result casts re-applied where re-aggregation widens a
  * decimal), so parent operators — sorts, projections, joins — are
  * untouched and the rewrite is invisible to everything but the scan.
  *
  * At 100 TB this is THE dashboard-query accelerator: the fact scan
  * (hours) becomes a summary scan (|groups| rows); because the rule
  * proves subsumption rather than matching query text, every
  * equivalent rollup in the workload accelerates, not just the one the
  * view was built for. Idempotent/fixed-point safe: the rewritten plan
  * scans `mvPath`, which matches no registered source. */
class MvRewrite(session: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (MvRegistry.isEmpty) return plan
    plan.transformUp {
      case agg: Aggregate => rewrite(agg).getOrElse(agg)
    }
  }

  private def relationPath(r: LogicalRelation): Option[String] =
    r.relation match {
      case h: HadoopFsRelation =>
        h.location.rootPaths.headOption.map(_.toUri.getPath)
      case _ => None
    }

  /** Walk Project(attrs)/Filter down to a file-source relation,
    * accumulating filter conjuncts. */
  private def unwrap(p: LogicalPlan, preds: Seq[Expression])
      : Option[(String, Seq[Expression])] = p match {
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      unwrap(c, preds)
    case Filter(cond, c) =>
      unwrap(c, preds ++ splitConjunctivePredicates(cond))
    case r: LogicalRelation => relationPath(r).map((_, preds))
    case _ => None
  }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (path, preds) = unwrap(agg.child, Nil).getOrElse(return None)
    MvRegistry.forSource(session, path).view.flatMap(tryOne(agg, preds, _))
      .headOption
  }

  private def tryOne(agg: Aggregate, preds: Seq[Expression],
      mv: MvDef): Option[LogicalPlan] = {
    val groupAttrs: Seq[AttributeReference] =
      agg.groupingExpressions.map {
        case a: AttributeReference if mv.groupCols(a.name) => a
        case _ => return None
      }
    if (!preds.forall(_.references.forall(a => mv.groupCols(a.name))))
      return None

    // Fresh scan of the summary; new attribute ids, mapped by name.
    val mvPlan = session.read.parquet(mv.mvPath).queryExecution.analyzed
    val mvAttr = mvPlan.output.map(a => a.name -> a).toMap
    if (!mv.groupCols.forall(mvAttr.contains)) return None

    def rewriteCall(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.isDefined) return None
      val fn = ae.aggregateFunction match {
        case Sum(Cast(a: AttributeReference, d: DecimalType, _, _), mode)
            if d.precision == 18 && d.scale == 4 &&
              mv.dec4Sums.contains(a.name) =>
          Sum(mvAttr(mv.dec4Sums(a.name)), mode)
        case Count(Seq(Literal(1, _))) => Sum(mvAttr(mv.cntCol))
        case Min(a: AttributeReference) if mv.mins.contains(a.name) =>
          Min(mvAttr(mv.mins(a.name)))
        case Max(a: AttributeReference) if mv.maxs.contains(a.name) =>
          Max(mvAttr(mv.maxs(a.name)))
        case _ => return None
      }
      val nae = AggregateExpression(fn, Complete, isDistinct = false)
      Some(if (nae.dataType == ae.dataType) nae else Cast(nae, ae.dataType))
    }

    var ok = true
    val newRes: Seq[NamedExpression] = agg.aggregateExpressions.map { ne =>
      val r = ne.transformUp {
        case ae: AggregateExpression =>
          rewriteCall(ae).getOrElse { ok = false; ae }
        case a: AttributeReference
            if mv.groupCols(a.name) && mvAttr.contains(a.name) =>
          mvAttr(a.name)
      }
      r match {
        case n: NamedExpression if n.exprId == ne.exprId => n
        case other => Alias(other, ne.name)(exprId = ne.exprId)
      }
    }
    if (!ok) return None

    val newPreds = preds.map(_.transformUp {
      case a: AttributeReference if mvAttr.contains(a.name) => mvAttr(a.name)
    })
    val newChild = newPreds.reduceOption(And)
      .map(Filter(_, mvPlan)).getOrElse(mvPlan)
    Some(Aggregate(groupAttrs.map(a => mvAttr(a.name)), newRes, newChild))
  }
}
