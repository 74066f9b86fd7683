package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 scopes Column↔Expression conversion `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`); this bridge lives in
  * the sql package namespace to re-expose exactly that pair for graft's
  * custom Catalyst expressions. No other internals are touched.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame over a hand-constructed logical plan
    * (`Dataset.ofRows` is `private[sql]`; bridged for graft's custom
    * logical operators, e.g. the native as-of join).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Split a possibly direction-wrapped sort column into (value column,
    * ascending?). Spark 4 models `col.desc` as an `internal.SortOrder`
    * COLUMN NODE (not a catalyst SortOrder — `expression` wraps it
    * lazily), so the split has to happen at the node level; bridged
    * here for [[graft.operators.GlobalRank]]'s boundary bucketing.
    */
  /** Is this column a direction-wrapped sort node (`col.asc`/`col.desc`)?
    * Bridged for callers that must REJECT directions on a value column
    * (e.g. [[graft.operators.GlobalRank.withRankInGroups]]'s group key).
    */
  def isSortOrderNode(c: Column): Boolean =
    c.node.isInstanceOf[org.apache.spark.sql.internal.SortOrder]

  def splitSortOrder(c: Column): (Column, Boolean) = c.node match {
    case so: org.apache.spark.sql.internal.SortOrder =>
      (Column(so.child),
        so.sortDirection == org.apache.spark.sql.internal.SortOrder.Ascending)
    case _ => (c, true)
  }

  /** Release the storage blocks behind a `Dataset.localCheckpoint` result:
    * the checkpointed data lives in the RDD wrapped by the plan's
    * `LogicalRDD` leaf (`private[sql]` in Spark 4.1, hence bridged here).
    * Without this, iterative algorithms that checkpoint per round retain
    * every round's snapshot until session end.
    */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** True iff some plan leaf of `df` still has persisted/checkpointed
    * blocks in block storage (spec hook for leak tests).
    */
  def hasLiveCheckpoint(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.exists(r =>
      r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
}
