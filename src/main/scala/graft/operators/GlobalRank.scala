package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Gap-free global rank and exclusive prefix sums without the
  * single-partition window.
  *
  * A row-number window `OVER (ORDER BY ...)` with no PARTITION BY moves
  * the whole relation into one task — the canonical scale-killer
  * (WindowExec warns about it). The distributed equivalent is the
  * classic two-phase prefix sum of a weight:
  *
  *   1. bucket rows by range against SAMPLED BOUNDARIES computed once on
  *      the driver (one count + one bounded sample of ≈ 64 × buckets
  *      rows, sorted on the driver, embedded as literals — so every
  *      branch that consumes the bucketing recomputes the SAME
  *      deterministic bucket id from the row itself),
  *   2. run the exclusive prefix sum of the weight inside each bucket,
  *   3. add each bucket's exclusive prefix of the bucket totals. The
  *      totals come from the UNRANKED branch (a map-side-combined sum
  *      per bucket); the only single-partition window runs over
  *      ≤ numShufflePartitions rows, broadcast back.
  *
  * A rank is the weight-1 exclusive prefix sum plus 1: [[withRank]] and
  * [[withRankInGroups]] wrap [[withPrefixSum]] and
  * [[withPrefixSumInGroups]]. Boundary quality only affects bucket
  * BALANCE, never correctness. The input plan is evaluated up to four
  * times (count, sample, windowed branch, totals branch — all narrow);
  * callers ranking an expensive derived relation should persist it
  * first, and an unpinned input with a shuffle in its plan logs a
  * warning.
  *
  * The result equals the single-partition window whenever the key tuple
  * is globally unique (callers append a tiebreaker id — same contract as
  * any deterministic sort). Keys may carry sort direction (`col.desc`);
  * rows with NULL key values bucket to 0 (callers' keys are non-null by
  * contract). Used by q160's sorted-neighborhood linkage, q165's RFM
  * twin and the `*_rank` stats and drift twins; reference analogue: the
  * reference's WRITE path assigns global chunk order on the master
  * (`Master/masterhandler.py:209-213`) — here the order is computed
  * distributively instead of on the coordinator.
  */
object GlobalRank {

  /** Sample rows collected per target bucket for boundary estimation —
    * the RangePartitioner's own default neighborhood (20/partition),
    * rounded up for balance.
    */
  private val SamplePerBucket = 64

  /** The shared range-bucketing core: sampled boundaries (ONE count + ONE
    * bounded sample, driver-side KB metadata) folded into a PURE bucket-id
    * expression of the row — `#boundaries this row is lexicographically ≥
    * of` under the key directions. Every consumer branch recomputes the
    * same deterministic id; boundary quality only affects bucket BALANCE,
    * never correctness. Rows with NULL key values bucket to 0.
    */
  private def bucketExpr(df: DataFrame, parts: Seq[(Column, Boolean)],
      knownCount: Option[Long]): Column = {
    val spark = df.sparkSession
    val buckets = math.max(1,
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val n = knownCount.getOrElse(df.count())
    val plain = parts.zipWithIndex.map { case ((c, _), i) =>
      c.as(s"__gr_b$i") }
    val keyed = df.select(plain: _*)
    val boundaries: Seq[Seq[Any]] =
      if (n <= 1 || buckets == 1) Seq.empty
      else {
        val fraction =
          math.min(1.0, (buckets.toLong * SamplePerBucket).toDouble / n)
        // the sample is ≤ 64 × buckets rows of KB metadata — sorted on
        // the DRIVER (no range exchange or distributed sort job), under
        // the SAME ordering the bucket-id expression applies, so
        // boundaries and ids agree by construction
        val sample = keyed
          .sample(withReplacement = false, fraction, seed = 42L)
          .collect()
        val ord = graft.functions.SortedBoundaryBucket
          .internalOrdering(keyed.schema, parts.map(_._2))
        val conv = graft.functions.SortedBoundaryBucket
          .internalConverter(keyed.schema)
        val sorted = sample.map(_.toSeq).sortBy(conv)(ord)
        val m = sorted.length
        if (m == 0) Seq.empty
        else (1 until buckets)
          .map(i => ((i.toLong * m) / buckets).toInt.min(m - 1))
          .distinct
          .map(sorted(_))
          .filter(_.forall(_ != null)) // null boundaries can't compare
          .distinct
      }
    // bucket = #boundaries the row is lexicographically ≥ of under the
    // key directions, by BINARY SEARCH over the sorted boundary array —
    // O(log buckets) per row and constant-size generated code even at a
    // cluster-realistic 2000 partitions (NULL keys bucket to 0) — see
    // SortedBoundaryBucket's scaladoc.
    if (boundaries.isEmpty) lit(0)
    else graft.functions.SortedBoundaryBucket(parts, keyed.schema, boundaries)
  }

  /** Is re-evaluating this input cheap — a narrow scan, a cache hit, or
    * a (lineage-truncating) checkpoint? Gates the multiple-evaluation
    * warning.
    */
  private def reEvalCheap(df: DataFrame): Boolean = {
    val hasShuffleWork = df.queryExecution.optimizedPlan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isDefined
    !hasShuffleWork || df.sparkSession.sharedState.cacheManager
      .lookupCachedData(
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .isDefined
  }

  /** Exclusive running sum of `c` over `spec` (0 on a frame's first
    * row): `sum(c) OVER (spec ROWS UNBOUNDED PRECEDING TO -1)`.
    */
  private def exclusiveSum(c: Column, spec: WindowSpec): Column =
    coalesce(sum(c).over(spec.rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L))

  /** Direction belongs on the key columns: a `.desc`-wrapped group would
    * break the ascending group-offsets order the prefix pass relies on.
    */
  private def requireBareGroup(group: Column): Unit =
    require(!ColumnBridge.isSortOrderNode(group),
      "GlobalRank: group column must be bare (no .asc/.desc); " +
        "sort direction applies to the key columns only")

  /** Append a 1-based dense global row number named `rankCol` (long),
    * ordered by `keys` (which must be unique as a tuple for a
    * deterministic result): the weight-1 exclusive prefix sum plus 1.
    */
  def withRank(df: DataFrame, rankCol: String, keys: Column*): DataFrame =
    withRankN(df, rankCol, None, keys: _*)

  /** [[withRank]] with a caller-known row count — skips the machinery's
    * own count job (rfm_globalrank already counted its pinned base).
    */
  private[graft] def withRankN(df: DataFrame, rankCol: String,
      knownCount: Option[Long], keys: Column*): DataFrame =
    withPrefixSumN(df, rankCol, lit(1L), knownCount, keys: _*)
      .withColumn(rankCol, col(rankCol) + 1L)

  /** PER-GROUP gap-free rank without a row-number window `OVER
    * (PARTITION BY group ...)` — the scale form when the group column
    * has FEW values (q187's three return flags), where a coarse-grouped
    * window makes each group one giant sort task. The weight-1 case of
    * [[withPrefixSumInGroups]] plus 1; equals the PARTITION BY form
    * exactly whenever (group, keys) is unique. NULL group values are a
    * legitimate group (offset 0, ranked first). Direction-wrapped group
    * columns are rejected — sort direction belongs on the key columns.
    */
  def withRankInGroups(df: DataFrame, rankCol: String, group: Column,
      keys: Column*): DataFrame =
    withPrefixSumInGroups(df, rankCol, lit(1L), group, keys: _*)
      .withColumn(rankCol, col(rankCol) + 1L)

  /** PER-GROUP distributed EXCLUSIVE prefix sum of `weight` (cast to
    * long) in `keys` order — `sum(w) OVER (PARTITION BY group ORDER BY
    * keys ROWS UNBOUNDED PRECEDING TO -1)` without the coarse-group
    * window hazard: the global prefix sum with the group as leading key,
    * minus each group's exclusive prefix of the group totals
    * (|groups| rows, broadcast). Deterministic whenever (group, keys) is
    * unique. Built for cumulative-distribution work: tie-mean rank
    * classes (stats_spearman_rank / stats_mwu_rank rank a GROUPED value
    * table instead of the corpus), ogives, weighted ECDFs.
    */
  def withPrefixSumInGroups(df: DataFrame, sumCol: String, weight: Column,
      group: Column, keys: Column*): DataFrame = {
    requireBareGroup(group)
    val g = withPrefixSum(df, "__gr_gps", weight, (group +: keys): _*)
    val goffs = df.groupBy(group.as("__gr_g"))
      .agg(sum(weight.cast("long")).as("__gr_n"))
      .select(col("__gr_g"),
        exclusiveSum(col("__gr_n"), Window.orderBy(col("__gr_g")))
          .as("__gr_goff"))
    // NULL groups are a legitimate group, but the join stays a PLAIN ===
    // equi-join: `<=>` rewrites both keys to coalesce+isnull pairs, which
    // defeats downstream exchange reuse (every caller slowed 59-84% when
    // it was tried). Instead: the prefix pass and the offsets window
    // BOTH order the group ASC NULLS FIRST, so the NULL group — when
    // present — is always the FIRST group and its exclusive prefix is 0
    // by construction. A left join + coalesce(off, 0) therefore gives
    // NULL-group rows exactly the offset the null-safe join would have
    // (0), and every non-null group's offset already includes the NULL
    // group's total. Pinned by TemporalOpsSpec "NULL groups rank".
    g.join(broadcast(goffs), group === col("__gr_g"), "left")
      .withColumn(sumCol,
        col("__gr_gps") - coalesce(col("__gr_goff"), lit(0L)))
      .drop("__gr_g", "__gr_goff", "__gr_gps")
  }

  /** GLOBAL distributed EXCLUSIVE prefix sum of `weight` (cast to long)
    * in `keys` order — `sum(w) OVER (ORDER BY keys ROWS UNBOUNDED
    * PRECEDING TO -1)` without the single-partition window. Same
    * determinism contract (unique key tuples).
    */
  def withPrefixSum(df: DataFrame, sumCol: String, weight: Column,
      keys: Column*): DataFrame =
    withPrefixSumN(df, sumCol, weight, None, keys: _*)

  /** [[withPrefixSum]] with a caller-known row count — skips the
    * machinery's own count job (exactQuantilesByRank counts its class
    * table in the same aggregate that sums its weights). The one
    * bucketing core every rank and prefix sum runs on.
    */
  private[graft] def withPrefixSumN(df: DataFrame, sumCol: String,
      weight: Column, knownCount: Option[Long], keys: Column*): DataFrame = {
    if (!reEvalCheap(df))
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn("GlobalRank input has a shuffle in its plan and is not " +
          "cached; it will be evaluated up to 4x — persist or " +
          "localCheckpoint the input first")
    val w = weight.cast("long")
    // (underlying value column, ascending?) per key — keys may arrive as
    // SortOrder-wrapped columns (col.desc); the split happens at the
    // column-node level (Spark 4 wraps catalyst conversion lazily)
    val parts: Seq[(Column, Boolean)] = keys.map(ColumnBridge.splitSortOrder)
    val bucketed = df.withColumn("__gr_pid",
      bucketExpr(df, parts, knownCount))
    val local = bucketed.withColumn("__gr_lps", exclusiveSum(w,
      Window.partitionBy(col("__gr_pid")).orderBy(keys: _*)))
    // bucket totals from the UNRANKED branch: a map-side-combined sum
    // per bucket whose exchange is ≤ buckets² cells, never a second
    // Sort+Window over the input
    val offsets = bucketed.groupBy(col("__gr_pid"))
      .agg(sum(w).as("__gr_cnt"))
      .select(col("__gr_pid").as("__gr_opid"),
        exclusiveSum(col("__gr_cnt"), Window.orderBy(col("__gr_pid")))
          .as("__gr_off"))
    local.join(broadcast(offsets), col("__gr_pid") === col("__gr_opid"))
      .withColumn(sumCol, col("__gr_lps") + col("__gr_off"))
      .drop("__gr_pid", "__gr_lps", "__gr_opid", "__gr_off")
  }

  /** [[withPrefixSumInGroups]] when the per-group totals are ALREADY
    * driver metadata (bounded-group callers that collected them anyway:
    * exactGroupQuantilesByRank's counts, the drift scaffold's per-type
    * totals): the group offsets become per-row LITERAL arithmetic — a
    * bounded when-chain on the group column — removing the goffs
    * aggregation, its single-partition window, and its broadcast join
    * from the plan entirely.
    *
    * `sortedTotals` must cover every group and be sorted ascending by
    * group value with a NULL group (if any) FIRST — the same NULLS-FIRST
    * order the prefix pass uses, so exclusive prefix offsets line up
    * (the withPrefixSumInGroups argument). A NULL group needs no chain
    * arm: its offset is 0 by construction, which is what the chain's
    * terminal otherwise(0) yields.
    */
  private[graft] def withPrefixSumInGroupsKnownTotals(df: DataFrame,
      sumCol: String, weight: Column, group: Column,
      sortedTotals: Seq[(Any, Long)], keys: Column*): DataFrame = {
    requireBareGroup(group)
    val g = withPrefixSum(df, "__gr_gps", weight, (group +: keys): _*)
    val offs = sortedTotals.map(_._2).scanLeft(0L)(_ + _).init
    val offExpr = sortedTotals.zip(offs).foldLeft(lit(0L)) {
      case (acc, ((gv, _), off)) =>
        if (gv == null) acc // NULL group offset is 0 — the terminal arm
        else when(group === lit(gv), lit(off)).otherwise(acc)
    }
    g.withColumn(sumCol, col("__gr_gps") - offExpr)
      .drop("__gr_gps")
  }
}
