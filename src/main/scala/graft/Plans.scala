package graft

import org.apache.spark.sql.SparkSession

/** Dumps physical plans for representative queries (plan-quality audit;
  * distilled commentary lives in PLANS.md). Usage:
  *   sbt "runMain graft.Plans /root/testdata/sf0.001 [q_a,q_b,...]"
  * — optional 2nd arg restricts to the named queries.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    only.foreach { names =>
      val known = SparkEntry.queries.keySet
      val unknown = names.filterNot(known.contains).toSeq.sorted
      require(unknown.isEmpty,
        s"unknown query name(s): ${unknown.mkString(", ")} (not in SparkEntry.queries)")
    }
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val interesting = Seq("q_predict_link", "q_dedup_exact", "q_dedup_minhash",
      "q_ann_topk", "q_token_count", "q_score_auc",
      "q_asof_join", "q_sample_strat", "q_boilerplate", "q_ann_lsh",
      // round-6 additions: rollup must show ONE Expand; corr/dq one
      // scan; funnel key-joins; fuzzy join a blocked equi-join
      "q_rollup", "q_corr", "q_dq_checks", "q_funnel", "q_fuzzy_join",
      "q_mixture_sample", "q_histogram",
      // temporal/CDC + prefix-filter batch: scd2 must show ONE
      // Exchange for both windows; cdc a window + full-outer join;
      // gap_fill a one-row-per-key explode; prefix_jaccard the
      // banded candidate join; wow one agg + self-join
      "q_scd2", "q_cdc_merge", "q_gap_fill", "q_prefix_jaccard",
      "q_wow", "q_cusum",
      // round-8 additions: ivfpq must be equi-joins (cell probe + code
      // join) with a partition-local heap, never a corpus broadcast;
      // group_pcts_scale must show NO collect_list (distinct-value
      // prefix sums only); score_mgauss one scan + broadcast coefs
      "q_ann_ivfpq", "q_group_pcts_scale", "q_score_mgauss",
      // round-8 part 2: group_sample must plan WindowGroupLimit;
      // para_dedup partial-aggregated min-(id,pos), no window over
      // paragraphs; rerank candidate-sized joins + broadcast queries;
      // ohlc ONE (key,bucket) Exchange shared by windows and agg
      "q_group_sample", "q_para_dedup", "q_ann_rerank", "q_ohlc",
      "q_temp_budgets",
      // round-8 part 3: url_dedup one map-side-combined agg on the
      // canonical key; split_leakage pair-graph CC + narrow hash
      // filter; epoch_shuffle the two-pass range rank; span_removal
      // gram join + left_anti + bounded rebuild; containment the
      // inverted-index pair join; calibrated_rank one keyed window
      "q_url_dedup", "q_split_leakage", "q_epoch_shuffle", "q_psi",
      "q_span_removal", "q_containment", "q_calibrated_rank",
      // round-9 additions: dsir must broadcast the bucket-ratio table
      // (<= buckets rows) into the weight join; novelty a gram-key
      // min-agg + equi-join (no window); feature_scale ONE stats agg
      // broadcast back; contam_matrix gram-key equi-joins only (the
      // only cross join is domains x eval-set stat rows)
      "q_dsir_weights", "q_novelty", "q_feature_scale", "q_contam_matrix",
      "q_kn_lm",
      // round-9 part 2: lexical_stats two map-side-combined aggs;
      // zipf TakeOrdered(K) bounding the rank window; kl_mix
      // slices×buckets grid with broadcast corpus side; domain_filter
      // suffix equi-join vs broadcast rules; ewma ONE key Exchange +
      // partition-local sort + streaming fold; hits per-half-step
      // edge-join + long-sum (audited at runtime, localCheckpoint
      // cuts the visible plan)
      "q_lexical_stats", "q_zipf", "q_kl_mix", "q_domain_filter",
      "q_ewma",
      // round-9 part 3: luhn a narrow explode+filter (no shuffle);
      // sketch_sim two k-row aggregates joined; ann_recall a
      // result-set-sized (query,neighbor) join over the two producers
      "q_luhn_scan", "q_sketch_sim", "q_ann_recall",
      // embed_dispersion centroid agg + broadcast cosine pass;
      // code_detect pure narrow regex-count projection
      "q_embed_dispersion", "q_code_detect",
      // evaluation suite: ranked_eval must plan WindowGroupLimit on
      // the run topk (rank-filter form) with query-partitioned windows
      // only; pr_curve ONE distinct-score agg then the two-pass prefix
      // scan (no global window); confusion/brier single-agg passes
      "q_ranked_eval", "q_pr_curve", "q_confusion", "q_brier",
      // graph similarity: link_predict ONE wedge self-join on capped
      // middles + keyed degree joins; assoc_rules distinct-reduce then
      // one basket self-join with AQE-chosen marginal joins
      "q_link_predict", "q_assoc_rules",
      // hygiene/infra: mojibake+readability narrow projections (no
      // shuffle but output order); keyphrase explode + two aggs + one
      // word join; compaction keyed-window prefix sums; mannwhitney
      // distinct-value agg + two-pass RDD scan
      "q_mojibake", "q_keyphrase", "q_compaction_plan", "q_mannwhitney",
      "q_modularity", "q_bootstrap_ci",
      "q_silhouette", "q_time_decay", "q_join_estimate",
      "q_label_prop", "q_dedup_eval",
      // bitext the inverted-index pair join on digit tokens; int8 one
      // narrow kernel pass + label rollup
      "q_bitext_mine", "q_embed_int8")
    // an explicit name list dumps exactly those queries (they need not
    // be in the curated audit list); no list = the curated audit set
    val picked = only match {
      case Some(names) => names.toSeq.sorted
      case None => interesting
    }
    picked.foreach { name =>
      println(s"\n===================== $name =====================")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
