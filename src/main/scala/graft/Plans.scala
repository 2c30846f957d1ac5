package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for the headline queries to PLANS.md — the
  * plan-shape evidence (pushdown, broadcasts, partial aggs, custom
  * operators) in reviewable form. Regenerate with:
  * `sbt "runMain graft.Plans /root/testdata/sf0.001 PLANS.md"`.
  */
object Plans {
  private val headline = Seq(
    "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
    "events_hourly_window", "events_type_salted_agg",
    "events_range_join_bucketed", "documents_stratified_sample",
    "text_decontaminate",
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_embedding",
    "sim_brute_topk", "sim_topk_exec", "sim_pq_adc",
    "text_unigram_logprob", "text_bm25_search", "text_dup_spans",
    "text_winnowing", "documents_ppl_buckets",
    "text_keyword_tfidf", "lineitem_copurchase_pairs",
    "documents_importance_weights", "lineitem_range_layout",
    "embedding_kmeans", "dedup_semdedup", "graph_triangles",
    "documents_ngram_novelty", "text_intradoc_dedup",
    "dedup_keep_best", "orders_association_rules",
    "part_skyline", "graph_kcore", "dedup_bloom_delta",
    "text_quality_classifier", "sim_mmr_rerank", "dedup_containment",
    "events_partial_agg_merge", "lineitem_bucketed_join",
    "events_partition_pruned_join", "lineitem_abc_classes",
    "part_trigram_search", "supplier_covers_all",
    "events_cusum_changepoint",
    // round-10 plan-shape changes: window degrees, window end bound,
    // broadcast big-orders, spread scans, sliced+paged connector scan
    "graph_pagerank", "events_sliding_wau", "q18_large_customers",
    "text_hybrid_rrf", "text_ngram_topk", "loki_label_top_lines",
    "loki_paged_scan",
    // round-10 additions: span-merge islands, one-exchange upsert, census,
    // fuzzy decontamination, window-free budget selection, cluster-safe
    // split, loose-tau threshold census
    "text_dup_span_merge", "corpus_upsert_latest", "diag_skew_census",
    "text_decontaminate_fuzzy", "documents_token_budget",
    "documents_cluster_safe_split", "dedup_threshold_census",
    "loki_connector_scan", "loki_connector_labels", "loki_absent_label_neq",
    // round-11 plan-shape changes/additions: blocked exact pair join (no
    // BNLJ), columnar single-request connector scan (ColumnarToRow),
    // golden label injection, weighted Bernoulli sampling
    "dedup_semantic_clusters", "loki_injected_labels",
    "documents_weighted_sample", "loki_count_pushdown",
    // round-12 plan-shape changes/additions: columnar PAGED connector
    // scan, micro-batch tail + forwarding (their read-back plans), the
    // fused one-window RRF, the cached gram-count top-k
    "loki_stream_tail", "loki_stream_forward",
    // round-13: selector-pushed filtered tail, explicit-direction limited
    // reads, metadata relations (label census via pushed label-eq, series)
    "loki_stream_tail_filtered", "loki_backward_lastn",
    "loki_label_values", "loki_series",
    // round-13 continued: volume census relations (index-only capacity
    // census and day-bucketed trend), pattern mining (static classes +
    // learned Drain-style templates)
    "loki_label_volume", "loki_volume_range",
    "loki_log_patterns", "loki_drain_templates",
    // round-14: metric-query pushdown (the Aggregate rewritten into a
    // LokiMetricScan — EXPLAIN shows the pushed sum by/count_over_time),
    // the pattern-store relation, the post-delete scan + audit listing
    "loki_metric_count_over_time", "loki_metric_sum_by",
    "loki_metric_by_label", "loki_metric_bytes_by_label",
    "loki_meta_patterns", "loki_delete_scan", "loki_meta_deletes",
    "documents_contrastive_negatives",
    // round-15: parser-stage pushdown (| json / | logfmt stages in the
    // pushed query), parsed-label metric grouping, mixed-kind avg pair,
    // server-side topk, rate projection, HAVING over the rewrite,
    // sliced metric, delete lifecycle read-back
    "loki_parse_json_filter", "loki_parse_logfmt_filter",
    "loki_parse_pattern_filter",
    "loki_metric_parsed_label", "loki_metric_avg_bytes",
    "loki_metric_topk", "loki_metric_rate", "loki_metric_having",
    "loki_metric_split", "loki_delete_lifecycle",
    // round-16: unwrapped range aggregations (avg/quantile/min/max/sum
    // over | unwrap pipelines in the pushed metric queries), the
    // | regexp fourth parser (filter + regexp-fed unwrap), the formatted
    // tail's read-back, structured metadata roundtrip
    "loki_metric_unwrap_avg", "loki_metric_unwrap_p90",
    "loki_metric_unwrap_sum", "loki_metric_unwrap_regexp",
    "loki_parse_regexp_filter", "loki_structured_metadata",
    // round-16 second tranche: conversion unwraps, stddev/stdvar kinds,
    // FILTER-clause per-kind stages, stream-label unwrap
    "loki_metric_unwrap_duration", "loki_metric_unwrap_stddev",
    "loki_metric_filtered_count", "loki_metric_unwrap_label",
    // round-16 third tranche: first/last_over_time selection kinds,
    // Loki 3.x pattern line filters
    "loki_metric_unwrap_first_last", "loki_line_pattern_filter",
    "loki_metric_unwrap_split", "loki_metric_bottomk",
    "loki_line_ip_filter", "loki_metric_topk_per_bucket")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.Plans` on `$sfDir`. Shows what the\n")
    sb.append("optimizer actually does: pushed filters/projections, broadcast\n")
    sb.append("vs shuffle joins, partial aggregation, custom operators.\n")
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // finalize AQE
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote $out")
    graft.operators.ConnectorOps.shutdownStubs()
    spark.stop()
  }
}
