package graft.bench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** Dumps `.explain("formatted")` for a representative set of queries to
  * EXPLAINS.md — plan-shape evidence (pushdown, broadcast, partial agg,
  * TakeOrdered, window composition) reviewable without running Spark.
  *
  *   scripts/run.sh graft.bench.ExplainDump [outFile]
  */
object ExplainDump {

  val Showcase: Seq[String] = Seq(
    "q_scan_filter", "q1_agg", "q_join_median_fill",
    "q_join_revenue_by_nation", "q_topk", "q_window_rows_avg",
    "q_asof_join", "q_dedup_minhash", "q_sim_bruteforce_topk",
    "q_events_time_window", "q_sessionize", "q_dedup_ngram",
    "q_join_bucketed", "q_partitioned_scan",
    "q_range_join", "q_tfidf", "q_contamination", "q_retention",
    "q_ntile_approx", "q_contamination_hashed", "q_ml_indexed_features",
    "q_attribution", "q_resample_ffill", "q_cube",
    "q_pack_blocks", "q_domain_mix", "q_zorder", "q_interpolate",
    "q_dedup_incremental", "q_heavy_hitters", "q_contamination_bloom",
    "q_topk_grouped", "q_events_window_topk", "q_corpus_profile",
    "q_dedup_incremental_minhash", "q_sketch_overlap",
    "q_lm_score", "q_leakage_safe_split",
    "q_curation", "q_dedup_embedding",
    "q_span_dedup", "q_skew_diagnostics", "q_perplexity_filter",
    "q_dedup_editdist", "q_sim_pq_topk", "q_sim_ivfpq_topk",
    "q_dedup_keeper_quality",
    "q_scd2_merge", "q_sketch_quantiles", "q_chunk_documents",
    "q_schema_evolution", "q_token_budget", "q_ntile_approx_bounds",
    "q_pit_join", "q_time_folds", "q_domain_mix_temperature",
    "q_median_histogram", "q_window_firstlast", "q_events_window_users",
    "q_salted_rank", "q_winsorize", "q_char_entropy",
    "q_window_dist", "q_sample_weighted", "q_sim_mmr_shortlist",
    "q_approx_distinct_bounds", "q_sketch_quantile_bounds",
    "q_gsod_accounting", "q_dedup_semantic_incremental",
    "q_skyline", "q_cdc_apply", "q_vocab_growth", "q_url_normalize",
    "q_heavy_hitters_incremental", "q_ml_bucketize",
    "q_sketch_overlap_bounds", "q_sim_recall_bounds",
    "q_salted_join", "q_dedup_sketch_recall_bounds", "q_ml_eval_bounds",
    "q_event_paths", "q_contamination_incremental", "q_lm_bigram",
    "q_corpus_divergence", "q_grouped_variance", "q_multimodal_bounds",
    "q_basket_pairs", "q_rfm", "q_session_funnel",
    "q_customer_returns", "q_priority_count", "q_shipmode_priority",
    "q_custdist", "q_dormant_accounts", "q_nation_volume",
    // the r12 *_bounds / roundtrip gates are deliberately NOT dumped:
    // their verdicts are driver-computed (the returned frame is a
    // LocalTableScan of literals), so a dump would pay the full
    // two-tier oracle computation for zero reviewable plan shape —
    // the plans that matter are the registered per-tier queries below
    "q_supplier_wait",
    "q_big_orders", "q_top_supplier_revenue", "q_cheapest_supplier",
    "q_multimodal_dedup", "q_multimodal_dedup_wide", "q_langid_mixture",
    "q_corpus_shuffle",
    "q_sample_reservoir", "q_seasonal_decompose", "q_rolling_anomaly",
    "q_market_share", "q_promo_share", "q_small_qty_revenue",
    "q_banded_revenue", "q_ewma_smooth", "q_level_shift",
    "q_acf", "q_seasonal_outliers", "q_graph_bfs",
    "q_grouped_ols", "q_target_encode", "q_collocations",
    "q_ab_test", "q_auc_exact", "q_quantile_normalize",
    "q_sketch_freq", "q_ml_calibration",
    "q_chi2_independence", "q_rater_agreement", "q_interval_join",
    "q_psi_drift", "q_textrank_keywords", "q_xcorr_lagged",
    "q_gini_concentration", "q_benford_digits", "q_sim_silhouette",
    "q_readability", "q_pseudonymize", "q_k_anonymity",
    "q_rolling_active_users", "q_basket_rules", "q_survival_hazard",
    "q_event_markov",
    "q_profit_by_nation", "q_important_stock", "q_supplier_relationship",
    "q_promo_candidates",
    "q_trend_mannkendall", "q_sen_slope", "q_zipf_slope",
    "q_span_provenance", "q_source_copy_fraction", "q_source_similarity",
    "q_dp_counts", "q_curriculum_order", "q_sim_pca_topk",
    "q_embedding_pca", "q_quality_classifier",
    "q_curriculum_order_approx", "q_embedding_drift",
    "q_embedding_drift_psi", "q_retrieval_eval",
    "q_source_similarity_sketch", "q_entity_resolution",
    "q_forecast_backtest", "q_attribution_position",
    "q_expectations_events",
    "q_entity_resolution_inc", "q_contamination_fuzzy",
    "q_contamination_fuzzy_inc", "q_pack_blocks_tokens",
    "q_preference_bt",
    "q_preference_matrix", "q_tokenizer_fertility_bpe", "q_span_excise",
    "q_blocklist_filter", "q_blocklist_ac", "q_mix_waterfill",
    "q_length_truncation", "q_tokenizer_ablation", "q_pack_efficiency",
    "q_blocklist_excise", "q_mix_waterfill_select", "q_shard_snake",
    "q_multimodal_denylist", "q_mix_epochs", "q_hard_negatives", "q_hard_negatives_ann",
    "q_contamination_containment", "q_contamination_containment_inc",
    "q_dedup_paragraphs", "q_best_of_n", "q_best_of_n_hist", "q_dpo_pairs",
    // q_contamination_capped_stats and q_corpus_release (+ its r20
    // production twin) are driver-computed accounting frames
    // (LocalTableScan / cached-manifest scans) — per the bounds-gate
    // dump policy above, their reviewable plans are the per-stage
    // operators already in this list
    "q_contamination_capped", "q_dedup_paragraphs_excise")

  /** PageRank's per-iteration `localCheckpoint` hides the loop body
    * the same way curation's stages are hidden: dump the
    * corpus-proportional edge derivation and ONE un-checkpointed
    * power-iteration round over a checkpointed edge frame. */
  def pagerankStages(spark: SparkSession, sf: String): Seq[(String, DataFrame)] = {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"))
    val srcIdx = docs.select(col("source")).distinct()
      .withColumn("idx",
        row_number().over(Window.orderBy(col("source"))).cast("long") - 1L)
    val n = srcIdx.count()
    val edges = docs.join(broadcast(srcIdx), "source")
      .select(concat(col("source"), lit(".example.com")).as("src"),
        ((col("idx") + 1L + col("doc_id") % lit(math.max(1L, n - 1L)))
          % lit(n)).as("di"))
      .join(broadcast(srcIdx.select(col("idx").as("di"),
        concat(col("source"), lit(".example.com")).as("dst"))), "di")
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("weight"))
    val round = graft.graph.PageRank.pageRank(
      edges.localCheckpoint(true), iters = 1, damping = 0.85)
    Seq(
      "q_domain_pagerank stage 1: edge derivation + weight aggregation" -> edges,
      "q_domain_pagerank stage 2: one power-iteration round" -> round)
  }

  /** Triangle census stages (`q_graph_triangles`): the end-to-end dump
    * hides the oriented wedge join behind the two `localCheckpoint`
    * shells, so each stage prints over its predecessor's checkpoint —
    * the plan the pipeline really executes. The orientation stage is the
    * 100×-scale audit point: edges re-oriented low-(degree, name) →
    * high before the self-join, so wedge volume is Σ indeg·outdeg ≤
    * |E|·√(2|E|) (out-degree ≤ √(2|E|) under degree orientation) rather
    * than the Σ deg² a lexicographic canonicalization leaves exposed to
    * hub domains. */
  def triangleStages(spark: SparkSession, sf: String): Seq[(String, DataFrame)] = {
    import graft.queries.AnalyticsQueries
    val edges = AnalyticsQueries.triangleEdges(spark, sf)
    val edgesCp = edges.localCheckpoint(true)
    val degrees = AnalyticsQueries.triangleDegrees(edgesCp)
    val oriented = AnalyticsQueries.orientByDegree(edgesCp, degrees)
    val closed = AnalyticsQueries.closedWedges(oriented.localCheckpoint(true))
    Seq(
      "q_graph_triangles stage 1: undirected canonical edge derivation" -> edges,
      "q_graph_triangles stage 2: degree orientation (low-(deg,name) → high)" -> oriented,
      "q_graph_triangles stage 3: oriented wedge self-join + closure semi-join" -> closed)
  }

  /** BFS stages (`q_graph_bfs`): the end-to-end dump is a Sort over
    * the final checkpointed distance frame — both the corpus-
    * proportional edge derivation and the per-round frontier join are
    * invisible. Stage 1 is the un-checkpointed domain-vertex
    * derivation (the |domains|-budgeted corpus pass — distinct sources
    * + global row_number; `ringChordEdges` itself checkpoints this
    * frame internally, so the edge assembly dumps as joins over its
    * shell); stage 2 is ONE frontier-expansion round over a
    * checkpointed edge frame — the join shape (frontier ⋈ adjacency
    * on the vertex, LEFT ANTI vs the settled set) that repeats per
    * hop. */
  def bfsStages(spark: SparkSession, sf: String): Seq[(String, DataFrame)] = {
    import graft.queries.AnalyticsQueries
    val srcs = AnalyticsQueries.ringChordSources(spark, sf)
    val edges = AnalyticsQueries.ringChordEdges(spark, sf)
    val edgesCp = edges.localCheckpoint(true)
    val adj = edgesCp.select(col("a").as("v"), col("b").as("w"))
      .unionAll(edgesCp.select(col("b").as("v"), col("a").as("w")))
    val dist0 = edgesCp.agg(min(col("a")).as("v"))
      .select(col("v"), lit(0).as("dist")).localCheckpoint(true)
    val round = dist0.join(adj, "v").select(col("w").as("v"))
      .join(dist0, Seq("v"), "left_anti").distinct()
      .select(col("v"), lit(1).as("dist"))
    Seq(
      "q_graph_bfs stage 1: domain-vertex derivation (corpus pass)" -> srcs,
      "q_graph_bfs stage 2: one frontier-expansion round (repeats per hop)" -> round)
  }

  /** Corpus-proportional first stages of the two r13 queries whose
    * end-to-end dumps hide them behind a checkpointed bounded frame. */
  def histogramStages(spark: SparkSession, sf: String): Seq[(String, DataFrame)] =
    Seq(
      "q_collocations stage 1: in-row successor pairing + bigram aggregation" ->
        graft.queries.TextQueries.collocationPositions(spark, sf),
      "q_quantile_normalize stage 1: (source, value) histogram aggregation" ->
        graft.queries.ExtraQueries.sourceLengthHistogram(spark, sf))

  /** Stage-wise frames for the pipelines whose per-stage
    * `localCheckpoint` hides the real operators behind a
    * `Scan ExistingRDD` shell in the end-to-end dump (q_curation,
    * q_curation_incremental): each stage is rebuilt UN-checkpointed so
    * its full plan — the one a 100×-scale reviewer must audit — prints.
    * Construction mirrors [[graft.text.Curation]] stage for stage. */
  def curationStages(spark: SparkSession, sf: String): Seq[(String, DataFrame)] = {
    import graft.queries.DedupQueries
    import graft.text.{Dedup, TextAnalysis}
    val corpus = DedupQueries.corpusTriple(spark, sf)
    val quality = TextAnalysis.withQualitySignals(corpus)
      .filter(col("quality_score") >= DedupQueries.CurationMinQuality)
      .select(col("doc_id"), col("text"))
    // each later stage prints over its PREDECESSOR'S checkpoint — what
    // the real pipeline executes — both because that is the honest
    // per-stage plan and because an un-checkpointed chain re-prints the
    // whole upstream subtree at every self-join (a 27k-line dump for
    // the anti-join stage alone)
    val qualityCp = quality.localCheckpoint(true)
    val keepers = Dedup.exactDedup(qualityCp).select(col("keeper").as("doc_id"))
    val exact = qualityCp.join(keepers, Seq("doc_id"), "left_semi")
    val exactCp = exact.localCheckpoint(true)
    val pairs = Dedup.ngramJaccardPairs(exactCp)
    // connectedComponents' one pair cut, then its loop edges (s < b)
    val canonCp = Dedup.canonicalEdges(pairs).localCheckpoint(true)
    val round = Dedup.ccRound(canonCp.filter(col("s") =!= col("b")))
    val nonKeepers = round.localCheckpoint(true).select(col("b").as("doc_id"))
    val survivors = exactCp.join(nonKeepers, Seq("doc_id"), "left_anti")
    Seq(
      "q_curation stage 1: quality gate" -> quality,
      "q_curation stage 2: exact-dedup keeper semi-join" -> exact,
      "q_curation stage 3: ngram-Jaccard pair generation (PPJoin)" -> pairs,
      "q_curation stage 4: one CC large/small-star round" -> round,
      "q_curation stage 5: cluster-keeper anti-join" -> survivors)
  }

  /** Same for the incremental pipeline: the delta-vs-state stages of
    * the core that [[graft.text.Curation.incrementalCurate]] and
    * [[graft.text.Curation.incrementalSurvivors]] share (the registered
    * query calls the latter), over the day-1 state of
    * [[graft.text.Curation.curateSketch]]. The stages after the pairs —
    * the connectedComponents cut and round, the keeper rule — are the
    * q_curation dumps' stages 4–5; the state append is not dumped,
    * since the query does not run it. */
  def incrementalStages(spark: SparkSession, sf: String): Seq[(String, DataFrame)] = {
    import graft.queries.DedupQueries
    import graft.text.{Curation, Dedup, TextAnalysis}
    val docs = graft.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val day1 = Curation.curateSketch(docs, DedupQueries.CurationMinQuality,
      withAccounting = false)
    val delta = docs.select((col("doc_id") + 2 * DedupQueries.IdOffset).as("doc_id"),
      concat_ws(" ", slice(Dedup.tokens(col("text")), 2, 100000)).as("text"))
    val quality = TextAnalysis.withQualitySignals(delta)
      .filter(col("quality_score") >= DedupQueries.CurationMinQuality)
      .select(col("doc_id"), col("text"))
    // per-stage checkpoints, same rationale as curationStages
    val qualityCp = quality.localCheckpoint(true)
    val fresh = Dedup.incrementalExactDedup(day1.state.digests, qualityCp)
      .select(col("doc_id"), col("text"))
    val (pairs, _, _, mhHandle) = Dedup.incrementalMinhashPairsFull(
      day1.state.bands, day1.state.sets, fresh.localCheckpoint(true), 3, 0.2)
    val stages = Seq(
      "q_curation_incremental stage 1: delta quality gate" -> quality,
      "q_curation_incremental stage 2: incremental exact dedup vs persisted digests" -> fresh,
      "q_curation_incremental stage 3: incremental minhash pairs vs persisted band index" -> pairs)
    mhHandle.unpersist()
    stages
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/root/repo/EXPLAINS.md")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# EXPLAINS — formatted physical plans (sf0.001, regenerate via ")
    sb.append("`scripts/run.sh graft.bench.ExplainDump`)\n")
    def dump(name: String, df: DataFrame): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // inlined binary literals (e.g. the contamination bloom sketch)
      // would otherwise dump megabytes of hex into the doc
      val bounded = plan.linesIterator.map { l =>
        if (l.length > 400) l.take(400) + s" …[${l.length - 400} chars elided]"
        else l
      }.mkString("\n")
      sb.append(s"\n## $name\n\n```\n$bounded\n```\n")
    }
    Showcase.foreach { name =>
      dump(name, SparkEntry.queries(name)(spark, sf))
    }
    // checkpointed pipelines: end-to-end plans above print a Scan
    // ExistingRDD shell, so their stages are dumped individually
    (curationStages(spark, sf) ++ incrementalStages(spark, sf) ++
      pagerankStages(spark, sf) ++ triangleStages(spark, sf) ++
      bfsStages(spark, sf) ++ histogramStages(spark, sf))
      .foreach { case (name, df) => dump(name, df) }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
