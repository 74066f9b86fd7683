package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

/** Optimizer rule: answer aggregates from a MATERIALIZED VIEW.
  *
  * The classic warehouse rollup rewrite [Gupta & Mumick; Goldstein &
  * Larson, SIGMOD'01]: when a query aggregates the fact table on a
  * subset of an MV's grouping keys with re-mergeable aggregates, serve
  * it from the (orders-of-magnitude smaller) MV instead of the fact
  * scan — SUM rolls up as SUM of partial sums, COUNT(*) as SUM of
  * partial counts, MIN/MAX as MIN/MAX of partial extrema. At 100 TB
  * this turns a full-corpus scan + shuffle into a metadata-scale read;
  * the MV itself stays fresh through the incremental-maintenance
  * entries (q57/q218's state-merge discipline).
  *
  * Contract (all three confs must be set, else the rule is INERT —
  * the same conf-gated-twin discipline as [[ApproxDistinctRewrite]]):
  *  - `spark.graft.mvRewrite.source`: parquet root of the base table
  *  - `spark.graft.mvRewrite.target`: parquet root of the MV, laid out
  *    as key columns plus `cnt` (COUNT(*)), `sum_<col>`, `min_<col>`,
  *    `max_<col>` partial-aggregate columns
  *  - `spark.graft.mvRewrite.keys`: comma-separated MV grouping keys
  *
  * A matching Aggregate must: scan the source path (through
  * attribute-only Projects and deterministic Filters over KEY columns
  * only — key filters are re-applied to the MV, where partition/
  * row-group pruning serves them); group by a subset of the MV keys;
  * and use only COUNT(*), SUM, MIN or MAX of covered measure columns,
  * with no DISTINCT and no FILTER clause (neither is derivable from
  * partial aggregates — such queries keep the fact scan). Output
  * attribute ids are preserved by re-aliasing, so parent operators
  * resolve unchanged; result types are cast back where re-merging
  * widens (decimal SUM). Float SUM re-merged from partials can differ
  * in the last ulp from the direct scan (addition order) — the same
  * disclosed trade as every distributed float sum in this repo.
  *
  * Installed by [[graft.GraftExtensions]], which [[graft.GraftSession]]
  * loads; armed by conf on an isolated session (the q233 pattern).
  * MvRewriteSpec pins: plan flips to the MV scan, rewritten == exact,
  * subset-key rollup, key-filter pushdown, refusal on non-key filters /
  * DISTINCT / FILTER clauses / uncovered measures, inert unset.
  */
object MvRewrite extends Rule[LogicalPlan] {

  val SourceKey = "spark.graft.mvRewrite.source"
  val TargetKey = "spark.graft.mvRewrite.target"
  val KeysKey = "spark.graft.mvRewrite.keys"

  private def conf(k: String): Option[String] = {
    val v = SQLConf.get.getConfString(k, "")
    if (v.isEmpty) None else Some(v)
  }

  private def norm(s: String): String =
    s.stripPrefix("file:").replaceAll("/+$", "")

  /** Walk below the Aggregate: attribute-only Projects are transparent,
    * Filters are collected, anything else disqualifies.
    */
  private def dig(p: LogicalPlan): Option[(Seq[Expression], LogicalRelation)] =
    p match {
      case lr: LogicalRelation => Some((Nil, lr))
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        dig(child)
      case Filter(cond, child) if cond.deterministic =>
        dig(child).map { case (fs, lr) => (cond +: fs, lr) }
      case _ => None
    }

  private def scansPath(lr: LogicalRelation, path: String): Boolean =
    lr.relation match {
      case h: HadoopFsRelation =>
        h.location.rootPaths.exists(p => norm(p.toString) == norm(path))
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    (conf(SourceKey), conf(TargetKey), conf(KeysKey)) match {
      case (Some(src), Some(tgt), Some(keyCsv)) =>
        val keys = keyCsv.split(",").map(_.trim).filter(_.nonEmpty).toSet
        plan.transformUp {
          case agg @ Aggregate(group, aggExprs, child, _) =>
            rewrite(agg, group, aggExprs, child, src, tgt, keys)
              .getOrElse(agg)
        }
      case _ => plan
    }

  private def rewrite(
      agg: Aggregate,
      group: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      child: LogicalPlan,
      src: String,
      tgt: String,
      keys: Set[String]): Option[LogicalPlan] = {
    for {
      (filters, lr) <- dig(child)
      if scansPath(lr, src)
      // Global aggregates (empty GROUP BY) are refused: COUNT(*) over an
      // empty fact table is 0, but SUM(cnt) over the (empty) MV is NULL —
      // re-merging cannot honor Count's zero-row contract there.
      if group.nonEmpty
      groupAttrs <- Some(group.collect { case a: AttributeReference => a })
      if groupAttrs.length == group.length
      if groupAttrs.forall(a => keys.contains(a.name))
      // filters may only touch key columns — on the MV they prune the
      // same groups they would have pruned on the fact table
      if filters.forall(_.references.forall(a => keys.contains(a.name)))
      mvPlan <- Some(
        SparkSession.active.read.parquet(tgt).queryExecution.analyzed)
      mvAttr <- Some(mvPlan.output.map(a => a.name -> a).toMap)
      // A misconfigured key set (conf names a column the MV parquet lacks)
      // must degrade to no-rewrite, not throw inside the optimizer.
      if groupAttrs.forall(a => mvAttr.contains(a.name))
      if filters.forall(_.references.forall(a => mvAttr.contains(a.name)))
      newAggExprs <- mapAll(aggExprs, mvAttr)
    } yield {
      val mappedFilters = filters.map(_.transform {
        case a: AttributeReference => mvAttr(a.name)
      })
      val filtered = mappedFilters
        .reduceOption(And)
        .map(Filter(_, mvPlan))
        .getOrElse(mvPlan)
      Aggregate(groupAttrs.map(a => mvAttr(a.name)), newAggExprs, filtered)
    }
  }

  /** Every output must map: grouping attrs re-alias to the MV column
    * under the original exprId; aggregates re-merge from partials.
    */
  private def mapAll(
      aggExprs: Seq[NamedExpression],
      mvAttr: Map[String, Attribute]): Option[Seq[NamedExpression]] = {
    val mapped = aggExprs.map {
      case a: AttributeReference if mvAttr.contains(a.name) =>
        Some(Alias(mvAttr(a.name), a.name)(exprId = a.exprId))
      case al @ Alias(ae: AggregateExpression, name) =>
        merge(ae, mvAttr).map(m =>
          Alias(m, name)(exprId = al.exprId, qualifier = al.qualifier,
            explicitMetadata = Some(al.metadata)))
      case _ => None
    }
    if (mapped.forall(_.isDefined)) Some(mapped.map(_.get)) else None
  }

  /** The partial-merge function, or None if not derivable from the MV. */
  private def merge(
      ae: AggregateExpression,
      mvAttr: Map[String, Attribute]): Option[Expression] = {
    if (ae.isDistinct || ae.filter.isDefined) return None
    val fn: Option[AggregateFunction] = ae.aggregateFunction match {
      case Count(Seq(Literal(_, _))) =>
        mvAttr.get("cnt").map(c => Sum(c))
      case Sum(a: AttributeReference, _) =>
        mvAttr.get(s"sum_${a.name}").map(c => Sum(c))
      case Min(a: AttributeReference) =>
        mvAttr.get(s"min_${a.name}").map(Min(_))
      case Max(a: AttributeReference) =>
        mvAttr.get(s"max_${a.name}").map(Max(_))
      case _ => None
    }
    fn.map { f =>
      val merged = AggregateExpression(f, Complete, isDistinct = false)
      if (merged.dataType == ae.dataType) merged
      else Cast(merged, ae.dataType)
    }
  }
}
