package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Pipeline observability — the guardrails a 100 TB job needs WITHOUT
  * paying for them:
  *
  *  - [[withRowAccounting]] rides `Dataset.observe` on an existing plan:
  *    row counts / null counts / sum checks are computed inside the
  *    already-running tasks (an accumulator per metric), so the audit
  *    costs ZERO extra passes — unlike a `.count()` or a q100-style
  *    audit query, which re-scan. This is the in-flight counterpart to
  *    q100's standalone constraint suite: q100 audits a TABLE, this
  *    audits a RUN.
  *  - [[StreamHealth]] snapshots a streaming query's progress (rows/s,
  *    state size, watermark) from the driver-side progress feed — the
  *    numbers an operator alarms on (state growth ⇒ watermark stuck;
  *    rows/s collapse ⇒ upstream stall). Pure metadata, no job.
  */
object Observability {

  /** Attach named accounting metrics to `df`. After ANY action runs the
    * returned frame, [[lastMetrics]] yields the observed row. Metrics
    * must be aggregates over the observed point's columns (Spark
    * enforces no non-aggregate references).
    */
  def withRowAccounting(df: DataFrame, name: String,
      nullCheckCols: Seq[String]): DataFrame = {
    val nullCounts = nullCheckCols.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
    df.observe(name, count(lit(1)).as("rows"), nullCounts: _*)
  }

  // observed rows per SESSION, then per observation name: two sessions
  // observing the same name must not overwrite each other's rows. A
  // session's entry is its registration (a lone global flag would leave
  // every session after the first without a listener, so its observed
  // metrics never arrive and awaitMetrics spins to timeout). Weak keys:
  // holding a stopped session here would pin its whole runtime graph.
  private val seen =
    new java.util.WeakHashMap[SparkSession, mutable.Map[String, Row]]()

  /** Most recent observed-metrics row for `name` in `spark`, if any
    * action of that session has completed since.
    */
  def lastMetrics(spark: SparkSession, name: String): Option[Row] =
    seen.synchronized { Option(seen.get(spark)).flatMap(_.get(name)) }

  /** [[lastMetrics]] with a bounded wait: QueryExecutionListener events
    * arrive on the async listener bus, so metrics for a just-finished
    * action may trail it by milliseconds.
    */
  def awaitMetrics(spark: SparkSession, name: String,
      timeoutMs: Long = 10000): Option[Row] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var m = lastMetrics(spark, name)
    while (m.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(25)
      m = lastMetrics(spark, name)
    }
    m
  }

  /** Install the QueryExecutionListener that feeds [[lastMetrics]].
    * Call once per session before running observed frames.
    */
  def register(spark: SparkSession): Unit = {
    val rowsOf = seen.synchronized {
      if (seen.containsKey(spark)) return
      val m = mutable.Map[String, Row]()
      seen.put(spark, m)
      m
    }
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          val rows = qe.observedMetrics
          if (rows.nonEmpty) seen.synchronized { rowsOf ++= rows }
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
  }

  /** One health row per recent micro-batch of a streaming query:
    * (batchId, inputRows, rowsPerSec, stateRows, watermark). Driver
    * metadata only — reads the progress ring buffer, runs no job.
    */
  case class BatchHealth(batchId: Long, inputRows: Long,
      rowsPerSec: Double, stateRows: Long, stateBytes: Long,
      droppedLate: Long, watermark: String)

  def streamHealth(q: StreamingQuery): Seq[BatchHealth] =
    q.recentProgress.toSeq.map { p =>
      val (stateRows, stateBytes, dropped) =
        if (p.stateOperators == null) (0L, 0L, 0L)
        else (p.stateOperators.map(_.numRowsTotal).sum,
          // state-store MEMORY, not just row count: the 100× risk
          // metric for stateful ops whose per-key state is wide (q93's
          // count maps) — rows can stay flat while bytes balloon
          p.stateOperators.map(_.memoryUsedBytes).sum,
          // rows the watermark excluded: the data-loss number a
          // pipeline owner alarms on before widening the lateness horizon
          p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
      BatchHealth(p.batchId, p.numInputRows,
        if (p.processedRowsPerSecond.isNaN) 0.0 else p.processedRowsPerSecond,
        stateRows, stateBytes, dropped,
        Option(p.eventTime.get("watermark")).getOrElse(""))
    }
}
