package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

/** Optimizer rule: bucketize pure range joins.
  *
  * A join whose only condition is `point BETWEEN lo AND hi` has no equi
  * conjunct, so Spark can only plan it as a BroadcastNestedLoopJoin (or
  * a cartesian product) — O(n·m) work that stops scaling the moment
  * neither side broadcasts. The standard fix (what q38 hand-writes, and
  * what commercial engines expose as a range-join hint) is to overlay a
  * fixed grid of width W:
  *
  *   - the point side computes its bucket  floor(point / W),
  *   - the interval side EXPLODES to every bucket its [lo, hi] span
  *     touches (`sequence(floor(lo/W), floor(hi/W))`),
  *   - the join becomes an EQUI-join on the bucket with the original
  *     predicate kept as a residual filter — shuffle-partitionable,
  *     AQE-skew-splittable, sort-merge-joinable.
  *
  * This rule performs that rewrite AUTOMATICALLY on the logical plan
  * whenever `spark.graft.rangeJoin.bucketWidth` is set to a positive
  * width (the caller owns the width choice exactly like a range-join
  * hint; unset disables the rule). It fires only on INNER joins whose
  * condition has NO equality conjunct (an equi conjunct already gives
  * Spark a shuffle key, and the rewritten join's own bucket equality
  * stops re-firing), and only when one lower and one upper bound
  * constrain the SAME point expression with both bounds from the other
  * side. Inclusive and strict bounds both qualify — bucket overlap is
  * a superset of the true match set either way, and the residual
  * predicate restores exactness. Degenerate intervals (lo > hi, NULL
  * bounds) explode to zero buckets, matching the join's no-match
  * semantics.
  *
  * Installed by [[graft.GraftExtensions]], which [[graft.GraftSession]]
  * loads. RangeJoinRuleSpec pins: plan flips BNLJ → equi join, results
  * equal the unrewritten join, rule inert without the conf / with an
  * equi conjunct present.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  val WidthKey = "spark.graft.rangeJoin.bucketWidth"

  private def width: Option[Double] = {
    val s = SQLConf.get.getConfString(WidthKey, "")
    if (s.isEmpty) None
    else
      try { val v = s.toDouble; if (v > 0) Some(v) else None }
      catch { case _: NumberFormatException => None }
  }

  /** Both readings of one comparison conjunct as a range bound —
    * `a ≥ b` says "b lower-bounds point a" AND "a upper-bounds point b"
    * — kept only when the two sides reference opposite join children.
    * Tuples are (point, bound, pointOnLeft, boundIsLower).
    */
  private def boundsOf(e: Expression, left: LogicalPlan,
      right: LogicalPlan): Seq[(Expression, Expression, Boolean, Boolean)] = {
    def sideOf(x: Expression): Option[Boolean] =
      if (x.references.isEmpty) None
      else if (x.references.subsetOf(left.outputSet)) Some(true)
      else if (x.references.subsetOf(right.outputSet)) Some(false)
      else None
    def interp(a: Expression, b: Expression, aGeB: Boolean) =
      (sideOf(a), sideOf(b)) match {
        case (Some(sa), Some(sb)) if sa != sb =>
          Seq((a, b, sa, aGeB), (b, a, sb, !aGeB))
        case _ => Seq.empty
      }
    e match {
      case GreaterThanOrEqual(a, b) => interp(a, b, aGeB = true)
      case GreaterThan(a, b) => interp(a, b, aGeB = true)
      case LessThanOrEqual(a, b) => interp(a, b, aGeB = false)
      case LessThan(a, b) => interp(a, b, aGeB = false)
      case _ => Seq.empty
    }
  }

  private def numeric(e: Expression): Boolean =
    e.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]

  override def apply(plan: LogicalPlan): LogicalPlan = width match {
    case None => plan
    case Some(w) =>
      plan.transformUp {
        case j @ Join(left, right, Inner, Some(cond), _) =>
          val conjuncts = splitConjunctivePredicates(cond)
          def crossSide(a: Expression, b: Expression): Boolean =
            boundsOf(GreaterThanOrEqual(a, b), left, right).nonEmpty
          val hasEqui = conjuncts.exists {
            case EqualTo(a, b) => crossSide(a, b)
            case _ => false
          }
          if (hasEqui) j
          else {
            val bounds = conjuncts.flatMap(c => boundsOf(c, left, right))
              .filter { case (p, b, _, _) => numeric(p) && numeric(b) }
            val pair = bounds.collectFirst {
              case (p, lo, s, true) if bounds.exists {
                case (p2, _, s2, lower2) =>
                  !lower2 && s2 == s && p2.semanticEquals(p)
              } =>
                val hi = bounds.collectFirst {
                  case (p2, b2, s2, false)
                    if s2 == s && p2.semanticEquals(p) => b2
                }.get
                (p, lo, hi, s)
            }
            pair match {
              case Some((point, lo, hi, pointOnLeft)) =>
                rewrite(j, point, lo, hi, pointOnLeft, w)
              case None => j
            }
          }
      }
  }

  private def rewrite(j: Join, point: Expression, lo: Expression,
      hi: Expression, pointOnLeft: Boolean, w: Double): LogicalPlan = {
    val tz = Some(SQLConf.get.sessionLocalTimeZone)
    def bucket(e: Expression): Expression =
      Cast(Floor(Divide(Cast(e, DoubleType), Literal(w))), LongType)
    val pointSide = if (pointOnLeft) j.left else j.right
    val boundSide = if (pointOnLeft) j.right else j.left
    val pb = Alias(bucket(point), "__graft_rb_point")()
    val newPointSide = Project(pointSide.output :+ pb, pointSide)
    val lob = bucket(lo)
    val hib = bucket(hi)
    val seq = If(LessThanOrEqual(lob, hib),
      Sequence(lob, hib, Some(Literal(1L)), tz),
      Literal.create(Array.empty[Long], ArrayType(LongType, containsNull = false)))
    val gb = AttributeReference("__graft_rb_span", LongType,
      nullable = true)()
    val newBoundSide = Generate(Explode(seq), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(gb), boundSide)
    val (newLeft, newRight) =
      if (pointOnLeft) (newPointSide, newBoundSide)
      else (newBoundSide, newPointSide)
    val newCond = And(EqualTo(pb.toAttribute, gb), j.condition.get)
    Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), j.hint))
  }
}
