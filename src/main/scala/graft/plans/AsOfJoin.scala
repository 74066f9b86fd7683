package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan,
  SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DateType, IntegerType, LongType,
  TimestampNTZType, TimestampType}

/** AS-OF join as a first-class Catalyst operator — the full custom-
  * operator ladder (logical plan → strategy → physical exec) the rest
  * of the engine only needed in composed form (q34 unions both streams
  * through one window). Spark has no built-in as-of join; the composed
  * form works but materializes a union twice the row count and carries
  * every right column as a running last_value. This operator instead
  * executes the textbook distributed sort-merge as-of:
  *
  *   - requiredChildDistribution clusters BOTH sides on the match keys
  *     (EnsureRequirements inserts co-partitioned exchanges exactly as
  *     it does for SortMergeJoin),
  *   - requiredChildOrdering sorts each partition by (keys, time), so
  *     the runtime sort service does the heavy lifting,
  *   - doExecute merges each co-partition pair with one forward pass:
  *     for every left row, the right cursor advances while its key
  *     sorts lower — or matches with time ≤ the left row's — keeping
  *     the LAST qualifying right row (backward as-of, ≥ semantics).
  *     O(|L| + |R|) per partition, zero extra materialization.
  *
  * Unmatched left rows emit right-side NULLs (left-outer as-of, the
  * convention of every as-of implementation). Null keys and null times
  * never match, mirroring SQL equality. Time columns must be long-
  * backed (timestamp, long, int, date) on both sides.
  *
  * Installed by [[graft.GraftExtensions]], which [[graft.GraftSession]]
  * loads; a session without it can't plan the node. AsOfJoinSpec pins
  * hand-computed matches, the exec + exchange + sort plan shape, and
  * equality with an O(n·m) reference join; the q176 driver entry pins
  * it against DuckDB's native ASOF JOIN.
  */
/** Match direction: Backward keeps the LAST right row with time ≤ the
  * left row's; Forward keeps the FIRST right row with time ≥ it — the
  * two halves of pandas `merge_asof(direction=)`. `tolerance` (in the
  * time column's native units) bounds |Δt|: a backward match older than
  * the bound, or a forward match further ahead, emits NULLs instead.
  */
sealed trait AsOfDirection
case object AsOfBackward extends AsOfDirection
case object AsOfForward extends AsOfDirection

case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    direction: AsOfDirection = AsOfBackward,
    tolerance: Option[Long] = None) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(newLeft: LogicalPlan,
      newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, dir, tol) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, dir, tol) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    direction: AsOfDirection = AsOfBackward,
    tolerance: Option[Long] = None) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def withNewChildrenInternal(newLeft: SparkPlan,
      newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lkTypes = leftKeys.map(_.dataType)
    val nRight = right.output.length
    val leftOut = left.output
    val rightOut = right.output
    val lk = leftKeys
    val rk = rightKeys
    val ltExpr = leftTime
    val rtExpr = rightTime
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lkProj = UnsafeProjection.create(lk, leftOut)
      val rkProj = UnsafeProjection.create(rk, rightOut)
      val ltProjRaw = UnsafeProjection.create(Seq(ltExpr), leftOut)
      val rtProjRaw = UnsafeProjection.create(Seq(rtExpr), rightOut)
      def timeOf(proj: UnsafeProjection, longBacked: Boolean)
          (row: InternalRow): Option[Long] = {
        val r = proj(row)
        if (r.isNullAt(0)) None
        else if (longBacked) Some(r.getLong(0))
        else Some(r.getInt(0).toLong)
      }
      val lLong = ltExpr.dataType match {
        case LongType | TimestampType | TimestampNTZType => true
        case IntegerType | DateType => false
        case other => throw new IllegalArgumentException(
          s"as-of time column must be long-backed, got $other")
      }
      val rLong = rtExpr.dataType match {
        case LongType | TimestampType | TimestampNTZType => true
        case IntegerType | DateType => false
        case other => throw new IllegalArgumentException(
          s"as-of time column must be long-backed, got $other")
      }
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lkTypes)
      val rBuf = rIter.buffered
      val nullRight = new GenericInternalRow(nRight)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val dir = direction
      val tol = tolerance
      var lastMatch: InternalRow = null
      var lastMatchKey: UnsafeRow = null
      var lastMatchTime: Long = 0L
      lIter.map { lrow =>
        val lkey = lkProj(lrow)
        val ltime = timeOf(ltProjRaw, lLong)(lrow)
        // FORWARD: the first qualifying right row stays BUFFERED (it may
        // also serve later left rows at the same or later time)
        var fwdMatch: InternalRow = null
        var fwdTime: Long = 0L
        if (!lkey.anyNull && ltime.isDefined) {
          var advance = true
          while (advance && rBuf.hasNext) {
            val peek = rBuf.head
            val rkey = rkProj(peek)
            val c =
              if (rkey.anyNull) -1 // null keys sort low and never match
              else keyOrd.compare(rkey, lkey)
            if (c < 0) { rBuf.next(); () }
            else if (c == 0) {
              val rtime = timeOf(rtProjRaw, rLong)(peek)
              if (rtime.isEmpty) { rBuf.next(); () } // null time: no match
              else dir match {
                case AsOfBackward =>
                  if (rtime.get <= ltime.get) {
                    lastMatch = rBuf.next().copy()
                    lastMatchKey = rkey.copy()
                    lastMatchTime = rtime.get
                  } else advance = false
                case AsOfForward =>
                  if (rtime.get < ltime.get) { rBuf.next(); () }
                  else { fwdMatch = peek; fwdTime = rtime.get
                    advance = false }
              }
            } else advance = false
          }
        }
        val matchedRow: InternalRow = dir match {
          case AsOfBackward =>
            if (lastMatch != null && !lkey.anyNull && ltime.isDefined &&
              keyOrd.compare(lastMatchKey, lkey) == 0 &&
              tol.forall(t => ltime.get - lastMatchTime <= t)) lastMatch
            else null
          case AsOfForward =>
            if (fwdMatch != null &&
              tol.forall(t => fwdTime - ltime.get <= t)) fwdMatch
            else null
        }
        resultProj(joined(lrow,
          if (matchedRow != null) matchedRow else nullRight))
      }
    }
  }
}

/** DataFrame-level entry point for the native as-of join. */
object AsOfJoin {

  /** As-of join, backward by default: every `left` row picks the
    * `right` row with equal `keys` and the greatest `rightTimeCol` ≤
    * its `leftTimeCol` — or, with [[AsOfForward]], the SMALLEST ≥ it
    * (right columns NULL when none exists, or when `tolerance` bounds
    * the time gap and the candidate is too far). Right columns should
    * not collide with left names — rename before joining. The right
    * side is re-aliased internally, so self-joins (both sides from one
    * source) are safe. Tolerance is in the time column's native units
    * (µs for timestamps, days for dates).
    */
  def asof(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTimeCol: String, rightTimeCol: String,
      direction: AsOfDirection = AsOfBackward,
      tolerance: Option[Long] = None): DataFrame = {
    // the node plans only through AsOfJoinStrategy; without it Spark
    // fails at planning with an [INTERNAL_ERROR] that names neither the
    // node nor the missing conf
    val planner = left.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.planner
    if (!planner.strategies.contains(AsOfJoinStrategy))
      throw new IllegalStateException("AsOfJoin.asof: this session has " +
        "no as-of join strategy; build it with " +
        s"spark.sql.extensions=${classOf[graft.GraftExtensions].getName} " +
        "(GraftSession does)")
    // fresh exprIds on the right (Alias mints new ids) so a self-join's
    // sibling subtrees expose disjoint outputs
    val rightFresh = right.select(right.columns.map(c => col(c).as(c)): _*)
    val lp = left.queryExecution.analyzed
    val rp = rightFresh.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"no column $n in ${p.output.map(_.name).mkString(", ")}"))
    val node = AsOfJoinPlan(lp, rp,
      keys.map(attr(lp, _)), keys.map(attr(rp, _)),
      attr(lp, leftTimeCol), attr(rp, rightTimeCol),
      direction, tolerance)
    org.apache.spark.sql.graft.ColumnBridge.ofRows(left.sparkSession, node)
  }
}
