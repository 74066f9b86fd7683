package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Gap-free global rank without the single-partition window.
  *
  * `row_number() OVER (ORDER BY ...)` with no PARTITION BY moves the whole
  * relation into one task — the canonical scale-killer (WindowExec warns
  * about it). The distributed equivalent is the classic two-phase rank:
  *
  *   1. bucket rows by range against SAMPLED BOUNDARIES computed once on
  *      the driver (KB metadata, embedded as literals — so every branch
  *      that consumes the bucketing recomputes the SAME deterministic
  *      bucket id from the row itself; nothing depends on RDD ids or
  *      physical partition placement),
  *   2. rank locally inside each bucket,
  *   3. add each bucket's exclusive prefix count, computed from the
  *      bucket-count-sized size table (bounded metadata — the ONLY
  *      single-partition window runs over ≤ numShufflePartitions rows)
  *      and broadcast back.
  *
  * History: the first implementation derived the bucket id from
  * `spark_partition_id()` after `repartitionByRange`, pinned by an eager
  * `localCheckpoint(true)` — without the pin, the rank branch and the
  * offsets branch re-sampled range boundaries independently (fresh RDD id
  * seeds the RangePartitioner) and the pid join dropped rows
  * nondeterministically at the 10× smoke. The checkpoint fixed that but
  * materialized the whole relation to executor storage per call and
  * retained it for the session (three pinned copies per rfm_globalrank
  * run). This form removes the materialization entirely: boundaries are
  * driver metadata computed once from one count + one bounded sample
  * (sample size ≈ 64 × buckets rows, sorted AS A SAMPLE, never the full
  * relation), and the bucket id is a pure expression of the row — both
  * branches agree by construction. Boundary quality only affects bucket
  * BALANCE, never correctness. Callers ranking an expensive derived
  * relation should persist it themselves (the input plan is evaluated up
  * to four times: count, sample, rank branch, offsets branch — all
  * narrow).
  *
  * The result equals the single-partition `row_number` whenever the key
  * tuple is globally unique (callers append a tiebreaker id — same
  * contract as any deterministic sort). Keys may carry sort direction
  * (`col.desc`); rows with NULL key values bucket to 0 (callers' keys are
  * non-null by contract). Used by q160's sorted-neighborhood linkage and
  * q165's RFM twin; reference analogue: the reference's WRITE path
  * assigns global chunk order on the master
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
      knownCount: Option[Long] = None): Column = {
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
        // the DRIVER (round 9: the previous `.sort(order).collect()`
        // paid a whole range exchange + distributed sort job for a
        // KB-sized sample), under the SAME ordering the bucket-id
        // expression applies, so boundaries and ids agree by
        // construction
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
    // O(log buckets) per row and constant-size generated code, where
    // the round-8 chained-`when` fold was O(buckets) multi-key
    // comparisons per row (codegen-size fallback territory at a
    // cluster-realistic 2000 partitions). Same ids, same null corner
    // (NULL keys bucket to 0) — see SortedBoundaryBucket's scaladoc.
    if (boundaries.isEmpty) lit(0)
    else graft.functions.SortedBoundaryBucket(parts, keyed.schema, boundaries)
  }

  /** Is re-evaluating this input cheap — a narrow scan, a cache hit, or
    * a (lineage-truncating) checkpoint? Decides the offsets-branch shape
    * below and gates the multiple-evaluation advisory.
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

  /** Append a 1-based dense global row number named `rankCol`, ordered by
    * `keys` (which must be unique as a tuple for a deterministic result).
    */
  def withRank(df: DataFrame, rankCol: String, keys: Column*): DataFrame =
    withRankN(df, rankCol, None, keys: _*)

  /** [[withRank]] with a caller-known row count — skips the machinery's
    * own count job (rfm_globalrank already counted its pinned base).
    */
  private[graft] def withRankN(df: DataFrame, rankCol: String,
      knownCount: Option[Long], keys: Column*): DataFrame = {
    // advisory: the input plan is evaluated several times (count,
    // sample, rank branch, offsets branch). For a narrow scan that is
    // the cheap case by definition; for a derived relation with a
    // shuffle in its lineage the upstream cost multiplies — warn unless
    // the caller pinned it (cache/persist or a checkpoint, which both
    // collapse the lineage). rfm_globalrank pins; q160 ranks a scan.
    val cheap = reEvalCheap(df)
    if (!cheap)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn("GlobalRank.withRank input has a shuffle in its plan and " +
          "is not cached; it will be evaluated up to 4x — persist or " +
          "localCheckpoint the input first")
    // (underlying value column, ascending?) per key — keys may arrive as
    // SortOrder-wrapped columns (col.desc); the split happens at the
    // column-node level (Spark 4 wraps catalyst conversion lazily)
    val parts: Seq[(Column, Boolean)] = keys.map(ColumnBridge.splitSortOrder)
    val bucketed = df.withColumn("__gr_pid",
      bucketExpr(df, parts, knownCount))
    val local = bucketed.withColumn("__gr_lrn",
      row_number().over(
        Window.partitionBy(col("__gr_pid")).orderBy(keys: _*)))
    // bucket sizes: when the input re-evaluates cheaply (scan / cache /
    // checkpoint — every pinned caller), derive them from the UNRANKED
    // branch: a map-side-combined count per bucket whose exchange is
    // ≤ buckets² cells, instead of a SECOND full Sort+Window over the
    // reused exchange output (round 9: this was the grouped-rank
    // family's constant-factor regression). When re-evaluation is
    // expensive (unpinned shuffle-bearing input), keep the round-8
    // ranked-branch form: both consumers then share the identical
    // Exchange(__gr_pid) subtree and ReuseExchange evaluates the input
    // plan ONCE for the joined result.
    val sizes =
      if (cheap)
        bucketed.groupBy(col("__gr_pid"))
          .agg(count(lit(1)).as("__gr_cnt"))
      else
        local.groupBy(col("__gr_pid"))
          .agg(max(col("__gr_lrn")).cast("long").as("__gr_cnt"))
    val offsets = sizes
      .withColumn("__gr_off",
        coalesce(
          sum(col("__gr_cnt")).over(
            Window.orderBy(col("__gr_pid"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("__gr_pid").as("__gr_opid"), col("__gr_off"))
    local.join(broadcast(offsets), col("__gr_pid") === col("__gr_opid"))
      .withColumn(rankCol, col("__gr_lrn") + col("__gr_off"))
      .drop("__gr_pid", "__gr_lrn", "__gr_opid", "__gr_off")
  }

  /** PER-GROUP gap-free rank without `row_number() OVER (PARTITION BY
    * group)` — the scale form when the group column has FEW values
    * (q187's three return flags): a coarse-grouped window makes each
    * group one giant sort task (corpus/|groups| rows in one partition
    * at 100 TB), while this form ranks GLOBALLY with the group as the
    * leading key (range-partitioned — the [[withRank]] machinery) and
    * subtracts each group's exclusive prefix count. The offsets table
    * is |groups| rows (bounded metadata, broadcast; its single-
    * partition window is the same bounded-window argument as
    * withRank's own offsets). Equals the PARTITION BY form exactly
    * whenever (group, keys) is unique — same contract as withRank.
    * NULL group values are a legitimate group: the offsets join stays a
    * PLAIN === left join (round 7's `<=>` defeated exchange reuse and
    * slowed every caller) and relies on NULLS-FIRST ordering to give the
    * NULL group offset 0 via coalesce — see the inline note below.
    * Direction-wrapped group columns are rejected — sort direction
    * belongs on the key columns.
    */
  def withRankInGroups(df: DataFrame, rankCol: String, group: Column,
      keys: Column*): DataFrame = {
    // A direction-wrapped group (`col.desc`) would break the ascending
    // offsets window below (the prefix counts assume the same order the
    // rank pass used) — reject it explicitly; direction belongs on keys.
    require(!ColumnBridge.isSortOrderNode(group),
      "withRankInGroups: group column must be bare (no .asc/.desc); " +
        "sort direction applies to the key columns only")
    val g = withRank(df, s"__gr_grank", (group +: keys): _*)
    val counts = df.groupBy(group.as("__gr_g"))
      .agg(count(lit(1)).as("__gr_n"))
    val offs = counts
      .withColumn("__gr_goff",
        coalesce(
          sum(col("__gr_n")).over(
            Window.orderBy(col("__gr_g"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("__gr_g"), col("__gr_goff"))
    // NULL groups are a legitimate group, but the join stays a PLAIN ===
    // equi-join: round 7 used `<=>` here and every caller slowed 59-84%
    // (EqualNullSafe rewrites both keys to coalesce+isnull pairs, which
    // defeats downstream exchange reuse). Instead: the rank pass and the
    // offsets window BOTH order the group ASC NULLS FIRST, so the NULL
    // group — when present — is always the FIRST group and its exclusive
    // prefix count is 0 by construction. A left join + coalesce(off, 0)
    // therefore gives NULL-group rows exactly the offset the null-safe
    // join would have (0), and every non-null group's offset already
    // includes the NULL group's row count via the NULLS FIRST prefix
    // window. Pinned by TemporalOpsSpec "NULL groups rank".
    g.join(broadcast(offs), group === col("__gr_g"), "left")
      .withColumn(rankCol,
        col("__gr_grank") - coalesce(col("__gr_goff"), lit(0L)))
      .drop("__gr_g", "__gr_goff", "__gr_grank")
  }

  /** PER-GROUP distributed EXCLUSIVE prefix sum of `weight` (cast to
    * long) in `keys` order — `sum(w) OVER (PARTITION BY group ORDER BY
    * keys ROWS UNBOUNDED PRECEDING TO -1)` without the coarse-group
    * window hazard: the same sampled-boundary bucketing as [[withRank]]
    * (group as leading key), a local exclusive running sum inside each
    * bucket, bucket-total offsets (≤ numShufflePartitions rows,
    * broadcast), and |groups|-row group-total offsets subtracted the
    * same NULLS FIRST way as [[withRankInGroups]]. Deterministic
    * whenever (group, keys) is unique — same contract as withRank
    * (withRank IS the weight≡1 inclusive special case, off by the row's
    * own weight). Built for cumulative-distribution work: tie-mean rank
    * classes (stats_spearman_rank / stats_mwu_rank rank a GROUPED value
    * table instead of the corpus), ogives, weighted ECDFs.
    */
  def withPrefixSumInGroups(df: DataFrame, sumCol: String, weight: Column,
      group: Column, keys: Column*): DataFrame = {
    require(!ColumnBridge.isSortOrderNode(group),
      "withPrefixSumInGroups: group column must be bare (no .asc/.desc); " +
        "sort direction applies to the key columns only")
    val w = weight.cast("long")
    val g = withPrefixSum(df, "__gp_gps", weight, (group +: keys): _*)
    // group totals → exclusive group offsets; NULL group ranks first
    // (offset 0 by the NULLS FIRST argument of withRankInGroups), so the
    // join stays a plain === equi-join + left/coalesce
    val goffs = df.groupBy(group.as("__gp_g"))
      .agg(sum(w).as("__gp_n"))
      .withColumn("__gp_goff",
        coalesce(
          sum(col("__gp_n")).over(
            Window.orderBy(col("__gp_g"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("__gp_g"), col("__gp_goff"))
    g.join(broadcast(goffs), group === col("__gp_g"), "left")
      .withColumn(sumCol,
        col("__gp_gps") - coalesce(col("__gp_goff"), lit(0L)))
      .drop("__gp_g", "__gp_goff", "__gp_gps")
  }

  /** GLOBAL distributed EXCLUSIVE prefix sum of `weight` (cast to long)
    * in `keys` order — `sum(w) OVER (ORDER BY keys ROWS UNBOUNDED
    * PRECEDING TO -1)` without the single-partition window: the
    * [[withRank]] machinery with running sums instead of row numbers
    * (withRank IS the weight≡1 inclusive special case, off by the
    * row's own weight). Same determinism contract (unique key tuples).
    */
  def withPrefixSum(df: DataFrame, sumCol: String, weight: Column,
      keys: Column*): DataFrame =
    withPrefixSumN(df, sumCol, weight, None, keys: _*)

  /** [[withPrefixSum]] with a caller-known row count — skips the
    * machinery's own count job (exactQuantilesByRank counts its class
    * table in the same aggregate that sums its weights).
    */
  private[graft] def withPrefixSumN(df: DataFrame, sumCol: String,
      weight: Column, knownCount: Option[Long], keys: Column*): DataFrame = {
    val w = weight.cast("long")
    val parts: Seq[(Column, Boolean)] = keys.map(ColumnBridge.splitSortOrder)
    val bucketed = df.withColumn("__gp_pid",
      bucketExpr(df, parts, knownCount))
    val local = bucketed.withColumn("__gp_lps",
      coalesce(
        sum(w).over(
          Window.partitionBy(col("__gp_pid"))
            .orderBy(keys: _*)
            .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    // bucket totals: unranked-branch aggregation when the input
    // re-evaluates cheaply, windowed-branch (ReuseExchange) otherwise —
    // the withRankN offsets rationale verbatim
    val sizes =
      if (reEvalCheap(df))
        bucketed.groupBy(col("__gp_pid")).agg(sum(w).as("__gp_cnt"))
      else
        local.groupBy(col("__gp_pid")).agg(sum(w).as("__gp_cnt"))
    val offsets = sizes
      .withColumn("__gp_off",
        coalesce(
          sum(col("__gp_cnt")).over(
            Window.orderBy(col("__gp_pid"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("__gp_pid").as("__gp_opid"), col("__gp_off"))
    local.join(broadcast(offsets), col("__gp_pid") === col("__gp_opid"))
      .withColumn(sumCol, col("__gp_lps") + col("__gp_off"))
      .drop("__gp_pid", "__gp_lps", "__gp_opid", "__gp_off")
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
    * order the rank pass uses, so exclusive prefix offsets line up (the
    * withRankInGroups argument). A NULL group needs no chain arm: its
    * offset is 0 by construction, which is what the chain's terminal
    * otherwise(0) yields.
    */
  private[graft] def withPrefixSumInGroupsKnownTotals(df: DataFrame,
      sumCol: String, weight: Column, group: Column,
      sortedTotals: Seq[(Any, Long)], keys: Column*): DataFrame = {
    require(!ColumnBridge.isSortOrderNode(group),
      "withPrefixSumInGroupsKnownTotals: group column must be bare; " +
        "sort direction applies to the key columns only")
    val g = withPrefixSum(df, "__gp_gps", weight, (group +: keys): _*)
    val offs = sortedTotals.map(_._2).scanLeft(0L)(_ + _).init
    val offExpr = sortedTotals.zip(offs).foldLeft(lit(0L)) {
      case (acc, ((gv, _), off)) =>
        if (gv == null) acc // NULL group offset is 0 — the terminal arm
        else when(group === lit(gv), lit(off)).otherwise(acc)
    }
    g.withColumn(sumCol, col("__gp_gps") - offExpr)
      .drop("__gp_gps")
  }
}
