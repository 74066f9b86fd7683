package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Optimizer rule: trade exact COUNT(DISTINCT x) for HyperLogLog++.
  *
  * An exact distinct count is the classic 100 TB scale trap: Spark
  * plans it as a two-phase Expand/re-shuffle (or, with several distinct
  * aggregates, an N-way Expand multiplying the scan — the q158 profiler
  * lesson), and the shuffle carries every DISTINCT VALUE of the
  * column. `approx_count_distinct` replaces that with a fixed-size
  * mergeable HLL sketch per group — one map-side-combined pass, error
  * bounded by the configured relative standard deviation — but
  * rewriting every call site by hand is invasive and query authors
  * forget.
  *
  * This rule performs the swap AUTOMATICALLY on the logical plan when
  * `spark.graft.approxCountDistinct.rsd` is set to a positive relative
  * standard deviation (e.g. 0.05): every single-column
  * `Count(... , isDistinct = true)` inside an Aggregate becomes
  * `HyperLogLogPlusPlus(child, rsd)`. FILTER clauses are preserved
  * (the AggregateExpression's filter rides along). Multi-column
  * `COUNT(DISTINCT a, b)` sketches the TUPLE: HLL++ is single-child,
  * so the child becomes xxhash64(a, b) guarded to NULL when any
  * column is NULL — COUNT's multi-arg semantics skip those rows, and
  * an unguarded XxHash64 would both count them and collide
  * (null, x) with (x). A 64-bit hash adds ~n²/2⁶⁵ collision mass —
  * nothing next to the configured rsd until distincts reach billions.
  * Unset (the default) the rule is inert, so the exact semantics
  * remain the correctness gate everywhere — the same conf-gated-twin
  * discipline as [[RangeJoinRewrite]] and the q47/q112 percentile
  * pair.
  *
  * Installed by [[graft.GraftExtensions]], which [[graft.GraftSession]]
  * loads. ApproxRewriteSpec pins: plan flips to approx_count_distinct
  * (single- AND multi-column, FILTER clause kept), estimates within rsd
  * bounds of exact, NULL-tuple rows excluded as COUNT requires, plain
  * COUNT untouched, rule inert without the conf.
  */
object ApproxDistinctRewrite extends Rule[LogicalPlan] {

  val RsdKey = "spark.graft.approxCountDistinct.rsd"

  private def rsd: Option[Double] = {
    val s = SQLConf.get.getConfString(RsdKey, "")
    if (s.isEmpty) None
    else
      try { val v = s.toDouble; if (v > 0) Some(v) else None }
      catch { case _: NumberFormatException => None }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = rsd match {
    case None => plan
    case Some(r) =>
      plan.transformUp {
        case agg: Aggregate =>
          agg.transformExpressions {
            case ae @ AggregateExpression(Count(Seq(child)), _, true, _, _) =>
              ae.copy(
                aggregateFunction = HyperLogLogPlusPlus(child, r),
                isDistinct = false)
            case ae @ AggregateExpression(Count(children), _, true, _, _)
                if children.length > 1 =>
              val anyNull = children.map(IsNull).reduce[Expression](Or(_, _))
              val hashed = If(anyNull,
                Literal(null, org.apache.spark.sql.types.LongType),
                new XxHash64(children))
              ae.copy(
                aggregateFunction = HyperLogLogPlusPlus(hashed, r),
                isDistinct = false)
          }
      }
  }
}
