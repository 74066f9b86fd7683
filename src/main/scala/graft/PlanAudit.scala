package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, MergingSessionsExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

import graft.plans.AsOfJoinExec

/** Plan-shape audit: runs EVERY SparkEntry query at sf0.01 and checks
  * typed predicates over its AQE final plan (query stages and
  * subqueries included; cached relations and checkpoints are leaves).
  * Every entry must hold no cartesian product and no broadcast
  * nested-loop join unless its row justifies one; [[claims]] adds each
  * entry's own plan claims. A broken predicate prints
  * `AUDIT <entry> FAIL <predicate>: <detail>`; every line also goes to
  * `target/planaudit.txt`, and the process exits nonzero on any failed
  * predicate or entry error. Formatted plans come from
  * `graft.Probe --explain`.
  *
  * Usage: runMain graft.PlanAudit [names-csv]
  */
object PlanAudit extends AdaptiveSparkPlanHelper {

  /** Runs `df` so AQE settles, and returns its final physical plan. */
  def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  /** One checkable claim about a final plan. */
  sealed trait Check {
    def name: String
    /** Why `plan` breaks the claim, or None when it holds. */
    def violation(plan: SparkPlan): Option[String]
  }

  /** At most `k` shuffle exchanges; a reused exchange is not counted. */
  case class MaxExchanges(k: Int) extends Check {
    def name = s"exchanges<=$k"
    def violation(plan: SparkPlan) = {
      val n = nodes(plan).count(_.isInstanceOf[ShuffleExchangeExec])
      if (n <= k) None else Some(s"$n shuffle exchanges")
    }
  }

  case class Has(node: Class[_]) extends Check {
    def name = s"has ${node.getSimpleName}"
    def violation(plan: SparkPlan) =
      if (nodes(plan).exists(node.isInstance)) None else Some("absent")
  }

  case class Lacks(node: Class[_]) extends Check {
    def name = s"lacks ${node.getSimpleName}"
    def violation(plan: SparkPlan) = {
      val n = nodes(plan).count(node.isInstance)
      if (n == 0) None else Some(s"$n present")
    }
  }

  /** A scan pushes at least one filter into its source. */
  case object PushedFilters extends Check {
    def name = "pushed-filters"
    def violation(plan: SparkPlan) =
      if (nodes(plan).exists {
        case s: FileSourceScanExec =>
          s.metadata.get("PushedFilters").exists(_ != "[]")
        case _ => false
      }) None else Some("no scan has pushed filters")
  }

  /** No window without a partition spec reads row data: between such a
    * window and every data scan under it sits an aggregate, so its one
    * task sees bounded metadata, never the relation itself.
    */
  case object NoGlobalWindowOnData extends Check {
    def name = "no-global-window"
    def violation(plan: SparkPlan) = nodes(plan).collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w.child
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w.child
    }.flatMap(dataScan).headOption
      .map(s => s"unpartitioned window over ${s.nodeName.trim}")
  }

  /** A broadcast side is `relation`: it scans only that table, or
    * outputs the column a derived relation is named by.
    */
  case class Broadcasts(relation: String) extends Check {
    def name = s"broadcasts $relation"
    def violation(plan: SparkPlan) = {
      val sides = nodes(plan).collect { case b: BroadcastExchangeExec =>
        (tables(b.child), b.child.output.map(_.name)) }
      if (sides.exists { case (t, cols) =>
        t == Set(relation) || cols.contains(relation) }) None
      else Some("broadcast sides: " + sides.map { case (t, cols) =>
        (t.toSeq.sorted ++ cols).mkString("{", ",", "}") }.mkString(" "))
    }
  }

  /** The plan's broadcast nested-loop join is the operator's defined
    * work (`reason`), not a red flag. Fails once the join is gone, so a
    * stale justification cannot linger.
    */
  case class JustifiedBnlj(reason: String) extends Check {
    def name = "justified-bnlj"
    def violation(plan: SparkPlan) =
      Has(classOf[BroadcastNestedLoopJoinExec]).violation(plan)
        .map(_ => s"no BroadcastNestedLoopJoinExec left ($reason)")
  }

  private val NoJoin = Lacks(classOf[BaseJoinExec])

  /** Every node of the final plan and of its subqueries. */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(plan) { case p => p }

  private def tables(plan: SparkPlan): Set[String] =
    collect(plan) { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
    }.flatten.toSet

  /** A data scan that reaches `p` with no aggregate on the way. */
  private def dataScan(p: SparkPlan): Option[SparkPlan] = p match {
    case _: BaseAggregateExec | _: LocalTableScanExec => None
    case r: ReusedExchangeExec => dataScan(r.child)
    case _ =>
      val kids = allChildren(p)
      if (kids.isEmpty) Some(p) else kids.view.flatMap(dataScan).headOption
  }

  /** The checks every entry gets: no cartesian product, and no BNLJ
    * unless the entry's row justifies it.
    */
  def checksOf(entry: String): Seq[Check] = {
    val own = claims.getOrElse(entry, Nil)
    val bnlj =
      if (own.exists(_.isInstanceOf[JustifiedBnlj])) Nil
      else Seq(Lacks(classOf[BroadcastNestedLoopJoinExec]))
    Lacks(classOf[CartesianProductExec]) +: bnlj ++: own
  }

  /** Each broken check of `plan`, as `(name, detail)`. */
  def failures(plan: SparkPlan, checks: Seq[Check]): Seq[(String, String)] =
    checks.flatMap(c => c.violation(plan).map(c.name -> _))

  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val d = "/root/testdata/sf0.01"
    val only = args.headOption
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val names = SparkEntry.queries.keySet.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // append per entry (truncate once up front): a query throwing at
    // entry #300 of a multi-minute sweep must not lose the 299 audited
    // lines — the partial artifact plus its ERROR line is the record
    val path = Paths.get("target/planaudit.txt")
    Files.createDirectories(path.getParent)
    Files.deleteIfExists(path)
    def emit(line: String): Unit = {
      println(line)
      Files.write(path, (line + "\n").getBytes(UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
    var nChecks = 0
    var nFailed = 0
    var nErr = 0
    names.foreach { n =>
      try {
        val plan = finalPlan(SparkEntry.queries(n)(spark, d))
        val checks = checksOf(n)
        val failed = failures(plan, checks)
        nChecks += checks.size
        nFailed += failed.size
        failed.foreach { case (c, why) => emit(s"AUDIT $n FAIL $c: $why") }
        if (failed.isEmpty) emit(f"AUDIT $n%-28s ok checks=${checks.size}")
      } catch {
        case e: Throwable =>
          nErr += 1
          emit(f"AUDIT $n%-28s ERROR ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("")
              .takeWhile(_ != '\n').take(140))
      }
    }
    emit(s"AUDIT SUMMARY entries=${names.size} predicates=$nChecks " +
      s"failed=$nFailed errors=$nErr")
    spark.stop()
    if (nFailed > 0 || nErr > 0) sys.exit(1)
  }

  private val ObjectAgg = classOf[ObjectHashAggregateExec]
  private val Generate = classOf[GenerateExec]
  private val Window = classOf[WindowExec]
  private val Union = classOf[UnionExec]
  private val EquiJoin = classOf[HashJoin]
  private val Shj = classOf[ShuffledHashJoinExec]
  private val BucketPairs = Seq(Has(ObjectAgg), Has(Generate))

  /** Each entry's plan claims beyond the defaults, checked at sf0.01.
    * Broadcast choices that AQE owns are claimed as it makes them at
    * this scale; why a side is bounded (or must never broadcast at
    * scale) is the entry's own documentation.
    */
  val claims: Map[String, Seq[Check]] = Map(
    // relational surface
    "q1_agg" -> Seq(MaxExchanges(1), Has(classOf[HashAggregateExec]), NoJoin),
    "q2_filter_project" -> Seq(PushedFilters, MaxExchanges(0)),
    "q3_join_revenue" -> Seq(Broadcasts("nation"), Broadcasts("region")),
    "q6_topk_per_key" -> Seq(Has(classOf[WindowGroupLimitExec])),
    "q9_semi_join" -> Seq(Broadcasts("orders")),
    "q10_anti_join" -> Seq(Broadcasts("orders")),
    "q12_chained_pipeline" -> Seq(Broadcasts("nation")),
    "q53_full_outer" -> Seq(Has(classOf[SortMergeJoinExec])),
    "q95_star_join" -> Seq(Broadcasts("nation"), Broadcasts("region")),
    "q96_exists_subquery" -> Seq(Has(EquiJoin)),
    "q97_scalar_subquery" -> Seq(Has(EquiJoin)),
    "q101_state_merge" -> Seq(NoJoin, Has(Union)),
    "q105_upsert" -> Seq(Has(Union), MaxExchanges(0)),
    "q110_share_of_total" ->
      Seq(Broadcasts("nation"), Broadcasts("region"), NoGlobalWindowOnData),
    "q143_recursive_reach" -> Seq(Has(classOf[UnionLoopExec])),
    "q147_lateral_topk" -> Seq(Broadcasts("nation"), Has(Window)),
    "q158_profile" -> Seq(Has(Union), Lacks(classOf[ExpandExec])),
    "q167_period_over_period" -> Seq(Broadcasts("customer"),
      Broadcasts("nation"), Broadcasts("region"), NoGlobalWindowOnData),
    "q172_concentration" -> Seq(Broadcasts("customer"), NoGlobalWindowOnData),
    "q130_bloom_join" -> Seq(Has(EquiJoin)),
    "q178_fk_orphans" -> Seq(Broadcasts("region")),
    "q193_mv_join_maintain" -> Seq(Has(Union)),
    "q221_target_encode" ->
      Seq(Broadcasts("customer"), Broadcasts("nation"), MaxExchanges(1)),
    // aggregation, sketches, stats
    "q44_topk_agg" -> Seq(MaxExchanges(1), Has(ObjectAgg), Lacks(Window)),
    "q46_freq_items" -> Seq(Has(ObjectAgg)),
    "q79_zorder" -> Seq(MaxExchanges(1), NoJoin),
    "q85_kmeans" -> Seq(MaxExchanges(1), NoJoin),
    "q100_quality_audit" -> Seq(NoJoin, Has(Generate)),
    "q102_outliers" -> Seq(Broadcasts("std"), MaxExchanges(1)),
    "q106_eqdepth_hist" -> Seq(NoJoin, Lacks(classOf[SortExec])),
    "q111_mad_outliers" -> Seq(Broadcasts("mad")),
    "q112_approx_percentiles" -> Seq(Has(ObjectAgg)),
    "q126_corr_matrix" -> Seq(MaxExchanges(1), NoJoin),
    "q127_linreg" -> Seq(NoJoin),
    "sim_pca" -> Seq(NoJoin),
    "q136_welch_ttest" -> Seq(NoJoin),
    "q137_chi_square" -> Seq(NoJoin, NoGlobalWindowOnData),
    "q142_autocorr" -> Seq(NoJoin, NoGlobalWindowOnData),
    "q144_streaks" -> Seq(NoJoin, NoGlobalWindowOnData),
    "q146_majority_label" -> Seq(Has(Window), NoGlobalWindowOnData),
    "q171_weighted_median" -> Seq(Has(Window), NoGlobalWindowOnData),
    "q188_ks_test" -> Seq(NoJoin),
    "q203_impute" -> Seq(Broadcasts("fill")),
    "q220_psi_drift" -> Seq(MaxExchanges(1), NoJoin),
    "q250_emd_drift" -> Seq(MaxExchanges(1), NoJoin),
    "q235_dedup_impact" -> Seq(MaxExchanges(2)),
    "q236_profile_drift" -> Seq(NoJoin, Has(Union)),
    "stats_eqdepth_rank" -> Seq(Lacks(ObjectAgg), NoGlobalWindowOnData),
    "stats_wmedian_2pass" -> Seq(Broadcasts("tw")),
    "drift_qnorm_rank" -> Seq(Broadcasts("__gr_off"), NoGlobalWindowOnData),
    "q160_sorted_neighborhood" -> Seq(Broadcasts("__gr_off"),
      NoGlobalWindowOnData, Lacks(classOf[RDDScanExec])),
    "q263_vocab_coverage" -> Seq(NoGlobalWindowOnData),
    "q65_pack_sequences" -> Seq(Broadcasts("boff"), NoGlobalWindowOnData),
    "q211_salted_hot_join" -> Seq(Broadcasts("_salt"), Has(Generate)),
    // events and time series
    "q31_sessions" -> Seq(MaxExchanges(1), Has(classOf[MergingSessionsExec])),
    "q228_dynamic_sessions" -> Seq(MaxExchanges(1), NoJoin, Lacks(Window)),
    "q34_asof_join" -> Seq(MaxExchanges(1), Has(Window), Has(Union), NoJoin,
      Lacks(classOf[BroadcastExchangeExec])),
    "q176_asof_native" -> Seq(Has(classOf[AsOfJoinExec]),
      Lacks(classOf[BroadcastExchangeExec])),
    "q38_range_join" -> Seq(Has(Generate)),
    "q99_gap_fill" -> Seq(Has(Generate), Has(classOf[BroadcastHashJoinExec])),
    "q113_rolling_distinct_exact" -> Seq(Has(Generate), Broadcasts("day")),
    "q148_seasonal_anomaly" -> Seq(Broadcasts("std_r"), Has(Window)),
    "q222_mann_kendall" -> Seq(NoGlobalWindowOnData),
    "q224_isotonic" -> Seq(NoJoin),
    "q225_bootstrap_ci" -> Seq(Has(Generate)),
    "q247_holt" -> Seq(Has(classOf[MapGroupsExec])),
    "q248_holt_winters" -> Seq(Has(classOf[MapGroupsExec])),
    "q232_pack_bins" -> Seq(Has(classOf[MapGroupsExec])),
    "q265_changepoint" -> Seq(NoJoin, NoGlobalWindowOnData),
    "q155_survival" -> Seq(JustifiedBnlj("1-row dataset-horizon broadcast"),
      Broadcasts("m"), NoGlobalWindowOnData),
    "q156_interpolate" ->
      Seq(JustifiedBnlj("1-row calendar-span broadcast"), Broadcasts("hi")),
    "q165_rfm" -> Seq(JustifiedBnlj("1-row recency-horizon broadcast"),
      Broadcasts("m")),
    "q181_feature_matrix" -> Seq(JustifiedBnlj("1-row dataset-horizon broadcast")),
    "q249_t_closeness" -> Seq(
      JustifiedBnlj("1-row global-total broadcast (bigN normalizer)"),
      Broadcasts("bigN"), NoGlobalWindowOnData),
    // dedup and near-duplicate pairs: pairs come from bucket grouping
    // (collect_list + explode), never a bucket self-join
    "q21_minhash_lsh" -> BucketPairs,
    "q23_ngram_jaccard" -> BucketPairs,
    "q108_containment" -> BucketPairs,
    "dedup_simhash" -> BucketPairs,
    "dedup_keep_min" -> BucketPairs,
    "dedup_simhash_w" -> (Has(Shj) +: BucketPairs),
    "dedup_jaccard_prefix" -> (Has(Window) +: BucketPairs),
    "mm_image_neardup" -> Seq(NoJoin),
    "q24_embedding_dedup" -> Seq(Broadcasts("bb"), Has(Shj)),
    "q91_fuzzy_join" -> Seq(Has(EquiJoin)),
    "q139_fuzzy_pairs" -> Seq(Has(EquiJoin)),
    "q92_incremental_dedup" -> Seq(Has(Shj)),
    "q129_shingle_cosine" -> Seq(Has(Shj)),
    "q109_tfidf_topterms" ->
      Seq(Has(Shj), Lacks(classOf[BroadcastHashJoinExec])),
    "q114_span_removal" -> Seq(Has(ObjectAgg)),
    "q145_split_leakage" -> Seq(Has(EquiJoin)),
    "q230_homoglyph_dedup" -> Seq(NoJoin),
    "q259_dup_span_runs" -> Seq(NoJoin, NoGlobalWindowOnData),
    "q75_snapshot_diff" ->
      Seq(Has(classOf[SortMergeJoinExec]), MaxExchanges(2)),
    // text, search, curation
    "q56_quantile_budget" -> Seq(Broadcasts("thr")),
    "q57_decontaminate" -> Seq(Broadcasts("ps")),
    "q66_domain_mix" -> Seq(Broadcasts("thr")),
    "q73_bm25" -> Seq(Broadcasts("df")),
    "q77_triangles" -> Seq(Broadcasts("w1")),
    "q90_phrase_search" -> Seq(Has(EquiJoin)),
    "q175_overlap_score" -> Seq(Broadcasts("ps")),
    "q197_near_search" -> Seq(MaxExchanges(0), NoJoin),
    "q198_source_similarity" -> Seq(Broadcasts("na")),
    "q201_ctfidf" -> Seq(Has(Window)),
    "q204_quantize" -> Seq(MaxExchanges(0), NoJoin),
    "q207_freq_triples" -> Seq(Has(EquiJoin)),
    "q209_dsir_weights" -> Seq(Broadcasts("lr")),
    "q212_chunk_sliding" -> Seq(MaxExchanges(0), Has(Generate)),
    "q213_rep_ratio" -> Seq(MaxExchanges(0)),
    "q229_source_overlap" -> Seq(Broadcasts("n1")),
    "q258_kneser_ney" -> Seq(Has(classOf[BroadcastHashJoinExec])),
    "q261_cdc_chunks" -> Seq(Has(Generate)),
    // graphs
    "q74_pagerank" -> Seq(MaxExchanges(0)),
    "q86_bfs" -> Seq(Broadcasts("id")),
    "q141_shortest_path" -> Seq(Has(EquiJoin)),
    "q192_kcore" -> Seq(Has(EquiJoin)),
    // classifiers: |classes|-row model-constant grids
    "q189_naive_bayes" -> Seq(
      JustifiedBnlj("|classes|-row model-constant grid broadcast"),
      Broadcasts("tok_c"), Has(Window)),
    "q226_calibration" -> Seq(
      JustifiedBnlj("|classes|-row model-constant grid broadcast"),
      Broadcasts("tok_c")),
    "q237_nb_crossval" -> Seq(Broadcasts("docs_c")),
    "q260_loo_ablation" -> Seq(JustifiedBnlj(
      "|classes x sources|-row LOO-model grid + 1-row full-acc broadcast"),
      Broadcasts("dl"), Broadcasts("n_correct_full")),
    "q264_classifier_agreement" -> Seq(
      JustifiedBnlj("q189 class grid + 1-row chance-agreement broadcast"),
      Broadcasts("tok_c"), Broadcasts("sab")),
    "q161_hits" -> Seq(JustifiedBnlj("1-row score-normalizer broadcasts"),
      Broadcasts("asum"), Broadcasts("hsum")),
    "stats_hll_overlap" ->
      Seq(JustifiedBnlj("type-pair join over the |types|-row sketch table")),
    // vector search: the query set broadcasts; exact scoring of every
    // (query, corpus) pair scans the corpus once by definition
    "q25_ann_topk" -> Seq(JustifiedBnlj(
      "query-set broadcast, corpus scanned once by definition"),
      Broadcasts("qe")),
    "q149_knn_classify" -> Seq(JustifiedBnlj(
      "query-set broadcast, corpus scanned once by definition")),
    "q216_hard_negatives" -> Seq(JustifiedBnlj(
      "query-set broadcast, corpus scanned once by definition")),
    "q234_retrieval_eval" -> Seq(JustifiedBnlj(
      "ground truth is q25's brute-force scan by definition"),
      Broadcasts("qe")),
    "q245_mmr_rerank" ->
      Seq(JustifiedBnlj("q25's query-set broadcast candidate pass")),
    "q246_rrf_fusion" ->
      Seq(JustifiedBnlj("q25's query-set broadcast semantic arm"),
        Broadcasts("w"), Broadcasts("qe")),
    "sim_ann_lsh" -> Seq(Broadcasts("qb")),
    "sim_ann_ivf" -> Seq(Broadcasts("probe")),
    "sim_ann_ivfpq" -> Seq(Broadcasts("probe"), MaxExchanges(1)),
    "sim_ann_serve" -> Seq(Broadcasts("probe"), MaxExchanges(1)),
    "q214_ann_filtered" -> Seq(Broadcasts("qlabel"), MaxExchanges(1)))
}
