package graft
/** Off-gate scale experiment: time the dedup strategies against a larger
  * corpus (default: the 50k-doc dup-heavy replica; rebuild it with
  * `python3 tools/make_scale_corpus.py` — see SURVEY.md §8 scale-smoke
  * notes). The stream_* MONITORS are smoked separately by
  * [[graft.StreamSmoke]] — real multi-batch file streams with per-batch
  * state-bytes reporting, which this batch-shaped harness can't give.
  * Usage: runMain graft.ScaleSmoke [dir]
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    Seq("q20_exact_dedup", "dedup_keep_min", "q21_minhash_lsh",
      "dedup_simhash", "dedup_simhash_w", "q23_ngram_jaccard",
      "dedup_cluster_best", "q70_dup_spans", "q88_epoch_shuffle",
      "q100_quality_audit", "q105_upsert",
      // iterative operators: driver loops whose per-round join+agg shape
      // is the scale question — smoke them off-gate like the dedup family
      "q74_pagerank", "q85_kmeans", "q92_incremental_dedup",
      // round-4 additions with corpus-scale joins or unrolled rounds
      "q141_shortest_path", "q145_split_leakage", "q139_fuzzy_pairs",
      // session-3 additions whose scale story warrants an off-gate
      // number: distributed global rank (SNM), the native as-of exec,
      // two-round HITS over the replicated trade graph, and the
      // vocabulary-sized recommender pair aggregation
      "q160_sorted_neighborhood", "q176_asof_native", "q161_hits",
      "q154_also_bought",
      // session-4 additions: unrolled peeling, the profile self-join,
      // the ntile-free RFM, and the histogram-refine weighted median —
      // each exists BECAUSE of its scale story, so smoke it off-gate
      "q192_kcore", "q198_source_similarity", "rfm_globalrank",
      "stats_wmedian_2pass", "q189_naive_bayes", "q197_near_search",
      "q209_dsir_weights", "ml_silhouette", "q207_freq_triples",
      // session-5 additions: the CDC/reconciliation family (so the
      // warehouse ops get off-gate scale numbers like the dedup family
      // — q105 upsert is above), multimodal image near-dup over the 10x
      // replicated asset set (assets derive from documents, so the
      // scale corpus replicates them automatically; each planted twin
      // still lands at hamming <= 6 while the banding bounds the pair
      // search), the salted hot-join twin, and the streaming dedup
      // pipeline end-to-end
      "q123_cdc_apply", "q124_checksum_compare", "mm_image_neardup",
      "q211_salted_hot_join", "stream_dedup_inc",
      // round-5 additions whose cost scales with the corpus (the
      // drift/trend family is calendar-bounded and needs no smoke):
      // NB calibration rides the vocab-bounded scoring joins; the
      // target encoder is one grouped pass over the replicated orders
      "q226_calibration", "q221_target_encode",
      // session merge, the source-pair shingle join, and the skeleton
      // group all scale with the corpus
      "q228_dynamic_sessions", "q229_source_overlap",
      "q230_homoglyph_dedup", "q232_pack_bins", "ml_kmeans_inc",
      // round-6: the streaming ANN ingest end-to-end at 10x — appends
      // are now O(delta) fragments, so the two-batch cost must stay
      // delta-bounded regardless of corpus size (the index build pays
      // the corpus once; the appends must not)
      "sim_ann_stream_ingest",
      // round-6 additions that scale with the corpus: the prefix-
      // filtered Jaccard (its index-shrink claim is the scale story),
      // the Lindley balance (one full-table window pass), its
      // streaming twin (state = 4 longs per key), the one-pass
      // modularity, and the MMR pool-then-greedy shape
      "dedup_jaccard_prefix", "q243_clamped_balance",
      "stream_clamped_balance", "q244_modularity", "q245_mmr_rerank",
      // round-6 batch 2: the rank-based exact equi-depth (its whole
      // point is the 100x story), the two-arm RRF fusion, and the Holt
      // fold + its O(delta) streaming twin
      "stats_eqdepth_rank", "q246_rrf_fusion", "q247_holt", "stream_holt",
      "stream_index_inc",
      // round-12: both re-planned onto pinned relations (q143's
      // recursive CTE over the shared trade-edge view; q182's
      // checkpointed purchase relation) — smoke the new plans at 10x
      "q143_recursive_reach", "q182_negative_sample",
      // round-8 additions: the grouped-rank Gini twin and the
      // steady-state ANN serving shape both exist FOR their scale story
      "conc_globalrank", "sim_ann_serve",
      // round-9: the drift family and KS/AUC walks moved off their
      // coarse-group windows onto the range-partitioned prefix sum —
      // smoke the new shape; drift_qnorm_rank and the capstone's
      // bounded budget window ride the 10x documents
      "q220_psi_drift", "q250_emd_drift", "stats_ks_rank",
      "q242_feature_auc", "drift_qnorm_rank", "q54_full_curation",
      "stats_pctl_rank",
      // round-9 extension: every new operator whose cost scales with
      // the corpus (the bounded-table reports — water-fill, Hamilton,
      // ctx sweep, RI/key audits — need no smoke): dup-run islands and
      // CDC chunking on the dup-heavy replica, the KN model + scoring
      // joins, the GlobalRank-ranked vocab curve, the LOO ablation's
      // one-pass many-models claim, the JSD intersection join, the
      // hapax pass, and the components-derived cluster profile
      "q259_dup_span_runs", "q261_cdc_chunks", "q258_kneser_ney",
      "q263_vocab_coverage", "q260_loo_ablation", "q275_source_jsd",
      "q266_unseen_mass", "q277_dup_cluster_profile")
      // optional 2nd arg: comma-separated entry filter (local iteration)
      .filter(n => args.lift(1).forall(_.split(',').map(_.trim).contains(n)))
      .foreach { n =>
      // construction INSIDE the timer (the Bench discipline): iterative
      // operators (components) materialize eagerly while the plan is
      // being built, so timing only the final write would hide them.
      // noop write, NOT count(): count lets Catalyst prune
      // row-preserving joins/aggregations out of the plan and times a
      // row counter instead of the operator
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, args.headOption.getOrElse("/tmp/sfbig"))
      df.write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      val cnt = df.count() // untimed, for the row report only
      println(f"SMOKE $n%-20s $secs%8.2fs  rows=$cnt")
    }
    spark.stop()
  }
}
