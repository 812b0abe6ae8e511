"""Benchmark runner — the driver executes this per-round at sf0.1.

Runs the headline queries on local[$SPARK_GRAFT_CPUS] against
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and prints the full
per-query detail JSON line first, then ONE compact summary JSON line
LAST: {"metric": ..., "value": total_sec, "unit": "sec", "subtotals":
{...}, "queries": {slowest 8}, "sf": ...}. The summary is last and
<1.8 kB because the driver records only the final ~2000 chars of stdout.

Each query is fully materialized via a count over the final plan (collect
would be driver-bound for wide results; count forces the same computation).
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import statistics
import sys
import time

PARSE_N_BLOCKS = int(os.environ.get("SPARK_GRAFT_PARSE_BLOCKS", "30000"))
WARM_PASSES = int(os.environ.get("SPARK_GRAFT_WARM_PASSES", "3"))
# r14 (VERDICT r13 #2): re-run the md5 noise probes every N queries of
# the warm loop so a mid-run host burst is attributable PER SEGMENT from
# the committed BENCH_DETAIL alone (r13's one-shot launch probes missed
# the burst cohorts in both driver captures). Untimed — the probes run
# between query groups, never inside a timed pass.
PROBE_EVERY = int(os.environ.get("SPARK_GRAFT_PROBE_EVERY", "24"))


def _md5_loop(n: int) -> float:
    """Chained-md5 CPU loop — the DECISIONS.md #13 raw-CPU probe unit."""
    import hashlib

    h = b"x" * 64
    t0 = time.perf_counter()
    for _ in range(n):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def _host_probes() -> tuple[float, float]:
    """Host-noise self-adjudication (DECISIONS.md #13), measured
    immediately before the timed warm passes and emitted INTO the
    summary so a judge can read noise without re-running:

    - ``probe_1c``: one thread chaining 2M md5 digests. Clean-host
      reference ~1.0-1.2 s; single-core throttling reads high here.
    - ``probe_mc``: the same work split across SPARK_GRAFT_CPUS forked
      processes (1M digests each), wall seconds. Clean-host reference
      ~1.0-1.1 s on this 32-thread box; multi-core contention (the r8
      noise mode — all bench subtotals move in lockstep while probe_1c
      stays clean) reads high here ONLY.
    """
    import concurrent.futures as cf

    ncpu = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    one = _md5_loop(2_000_000)
    t0 = time.perf_counter()
    with cf.ProcessPoolExecutor(ncpu) as ex:
        list(ex.map(_md5_loop, [1_000_000] * ncpu))
    return round(one, 3), round(time.perf_counter() - t0, 3)


# Bump when tests/fixtures.py changes what it generates, so a cache built
# by an older generator is never reused (v2: valid, monotone block times).
PARSE_FIXTURE_VERSION = 2


def _ensure_parse_fixture(n_blocks: int) -> str:
    """Raw blockchain JSON at bench scale (cached in /tmp, built once,
    OUTSIDE the timed region): ~n_blocks blocks + ~n_blocks txs written as
    64 JSON-lines batch files per table so the scan parallelizes."""
    cache = f"/tmp/bread_spark_parse_fixture_v{PARSE_FIXTURE_VERSION}_{n_blocks}"
    done = os.path.join(cache, "_DONE")
    if os.path.exists(done):
        return cache
    shutil.rmtree(cache, ignore_errors=True)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from tests.fixtures import make_blocks, make_txs

    blocks = make_blocks(n_blocks)
    txs = make_txs(blocks)
    bdir = os.path.join(cache, "blocks")
    tdir = os.path.join(cache, "txs")
    os.makedirs(bdir)
    os.makedirs(tdir)
    chunk = max(1, n_blocks // 64)
    for i in range(0, len(blocks), chunk):
        part = blocks[i : i + chunk]
        lo = part[0]["block"]["header"]["height"]
        hi = part[-1]["block"]["header"]["height"]
        with open(os.path.join(bdir, f"{lo}_{hi}.json"), "w") as f:
            f.write("\n".join(json.dumps(b) for b in part))
        tx_part = [t for t in txs if lo <= t["height"] <= hi]
        with open(os.path.join(tdir, f"{lo}_{hi}.json"), "w") as f:
            f.write("\n".join(json.dumps(t) for t in tx_part))
    open(done, "w").close()
    return cache


def _parse_events_build(spark, fixture_dir: str) -> int:
    """The bronze→silver events build (R1-R5 + J1) — the reference's only
    timed workload (dbt/models/parsed/events.sql:2, '14 s ran alone').
    Returns the wide-events row count (forces the full plan)."""
    from bread_spark.parse import (
        attach_block_time,
        parse_blocks,
        parse_events_wide,
        read_raw_blocks,
        read_raw_txs,
    )

    raw_blocks = read_raw_blocks(spark, f"{fixture_dir}/blocks")
    raw_txs = read_raw_txs(spark, f"{fixture_dir}/txs")
    blocks = parse_blocks(raw_blocks)
    events = attach_block_time(parse_events_wide(raw_txs), blocks)
    return events.count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

    from bread_spark.queries import QUERIES
    from bread_spark.session import get_spark

    spark = get_spark(app_name="bread-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    bench_queries = [
        # flagship scan+agg
        "pricing_summary",
        # joins
        "revenue_by_segment",
        "orders_by_nation",
        "customers_without_orders",
        "orders_with_returns",
        "top_parts_by_revenue",
        "nation_revenue_rollup",
        "regional_supplier_revenue",
        "returned_items_topk",
        # time-series aggs + windows
        "txs_per_day",
        "cum_txs_per_day",
        "hourly_value_by_type",
        "cum_value_by_type",
        "distinct_users_per_day",
        "events_pivot_by_type",
        # scalar-function heavy
        "props_json_extract",
        "brand_number_extract",
        "event_flows_union",
        # windows/grouping-set extensions
        "value_cube_by_type_day",
        "value_percentiles_by_type",
        "day_over_day_txs",
        # sessionization + event-time windows
        "session_stats",
        "windowed_value_by_type",
        "last_purchase_asof",
        "events_near_errors",
        # multimodal binary columns
        "media_features",
        "media_dedup",
        # text / dedup / similarity extensions
        "doc_word_counts",
        "token_stats",
        "quality_scores",
        "lang_id_scores",
        "doc_fingerprints",
        "redact_pii",
        "doc_chunks",
        "deterministic_sample",
        "dedup_exact_hash",
        "cross_dedup",
        # end-to-end curation composite (quality → dedup → decontaminate
        # → stratify → shuffle key) — the flagship training-data pipeline
        "training_corpus",
        # corpus-curation family (sub-document dedup, domain quotas,
        # mixture weighting, LM scoring)
        "paragraph_dedup",
        "curated_corpus",
        "corpus_stats_by_source",
        "domain_quota_sample",
        "domain_token_quota",
        "corpus_mix",
        "corpus_mix_tokens",
        "unigram_logprob_scores",
        "bigram_logprob_scores",
        # round-6 additions (outside the frozen r5 gate set): trigram LM
        # with backoff, BM25 relevance search, Gopher fixed-rule gate,
        # per-doc TF-IDF keywords, per-source KL drift, Heaps-law vocab
        # growth, per-source quality rollup
        "trigram_logprob_scores",
        # round-7 additions: 5-gram deleted-interpolation LM (KenLM
        # order) + the CCNet bucket split under it (seam-shared scores),
        # and content-defined chunking (rolling-hash boundaries)
        "ngram5_logprob_scores",
        "perplexity_buckets_ngram5",
        "cdc_chunks",
        "cdc_chunk_dedup",
        "cms_sketch",
        "cms_heavy_hitters",
        "bootstrap_source_stats",
        "hll_registers",
        "hll_distinct_by_source",
        "zipf_fit_by_source",
        "weighted_sample_docs",
        "embedding_cosine_dups_tiled",
        "source_dashboard",
        "weighted_sample_by_source",
        "hll_total_distinct",
        "cms_probe_report",
        "split_leakage_report",
        "boilerplate_chunks",
        "boilerplate_filtered_corpus",
        # round-8 additions: the r7-gate end-to-end pipeline (boilerplate
        # → CDC dedup → 5-gram perplexity gate → decontaminate → splits
        # → packing), the HDR/DDSketch log-histogram quantile sketch,
        # the KMV bottom-k set-overlap sketch, the hashed-feature
        # Naive Bayes classifier family, and the silhouette cluster-QC
        # family
        "curated_corpus_v2",
        "hdr_value_sketch",
        "hdr_value_quantiles",
        "kmv_sketch",
        "kmv_source_overlap",
        "nb_lang_model",
        "nb_lang_scores",
        "nb_lang_report",
        "silhouette_scores",
        "cluster_quality_report",
        "media_resize_plan",
        "media_frame_samples",
        "mg_summary",
        "mg_heavy_hitters",
        "fuzzy_dup_pairs",
        "fuzzy_dedup_corpus",
        "cross_fuzzy_matches",
        "doc_provenance_edges",
        "doc_authority_rank",
        "hard_negatives",
        "value_cusum_by_type",
        "cusum_alarms",
        "seasonal_decomposition",
        "seasonal_anomalies",
        "value_psi_by_type",
        "events_monitoring_dashboard",
        "event_transition_matrix",
        "event_path_trigrams",
        "top_paths_to_purchase",
        "corpus_checksum_by_source",
        "embedding_covariance",
        "pca_components",
        "fd_sketch",
        "unigram_vocab",
        "unigram_token_counts",
        # round-9 additions: exact-integer ranking/calibration metrics
        # for the learned gates (Mann-Whitney ROC-AUC over NB margins,
        # precision/recall at fixed gates, margin-decile calibration),
        # the classifier agreement rollups (confusion matrix + Cohen's
        # kappa), and the packing-efficiency / dedup-impact dashboards
        "nb_margin_auc",
        "nb_pr_curve",
        "nb_calibration_bins",
        "nb_confusion_matrix",
        "nb_cohens_kappa",
        "pack_efficiency",
        "dedup_impact_report",
        "semantic_decontaminate",
        # round-9 additions, second wave: the data-quality expectation
        # suite (per-column profiles + declared constraint verdicts) and
        # PMI collocation mining off the shared LM count seams
        "table_profile",
        "constraint_checks",
        "pmi_collocations",
        "top_collocations_by_source",
        # semi-supervised label spread over the shared provenance-edge seam
        "doc_label_propagation",
        # tokenizer-fit diagnostics: OOV vs frozen vocab, doubling-bucket lengths
        "oov_rate_by_source",
        "doc_length_histogram",
        # first-seen content ratio off the shared capped-shingle seam
        "doc_novelty_scores",
        # per-source centroid cosine matrix (corpus cartography)
        "source_similarity_matrix",
        # easy→hard curriculum order (window + distributed two-pass forms)
        "curriculum_order",
        "curriculum_order_distributed",
        # A/B variant comparison from exact integer moments
        "ab_variant_report",
        # RFM quartile segmentation + MAD robust outlier QC
        "rfm_segments",
        "value_mad_outliers",
        # exact-moment statistics wave: OLS trend + Pearson matrix off the
        # daily seam, Benford first-digit QC, Gini/HHI concentration,
        # trailing-7d distinct users via the bounded x7 fan-out
        "value_trend_by_type",
        "type_correlation_matrix",
        "benford_digit_qc",
        "source_concentration",
        "rolling_7d_distinct_users",
        # behavioral timing + within-source percentile normalization
        "time_to_conversion",
        "inter_event_gap_stats",
        "quality_rank_by_source",
        # SCD2 temporalization + provenance triangle census
        "scd2_user_state",
        "provenance_triangles",
        # positional IR probes: exact phrase + bounded proximity
        "phrase_search",
        "proximity_search",
        # daily operations rollups: bands, composition, growth accounting
        "daily_value_percentiles",
        "type_share_by_day",
        "new_vs_returning_users",
        # TPC-H Q12-shaped fulfilment SLA
        "late_shipment_rate_by_priority",
        # dedup-QC: cluster-size doubling histogram off the cluster seam
        "dedup_cluster_sizes",
        # hour-of-week heatmap + embedding norm-bucket QC
        "activity_heatmap",
        "embedding_norm_stats",
        "bm25_search",
        "gopher_quality_gate",
        "tfidf_keywords",
        "source_kl_divergence",
        "vocab_growth",
        "quality_by_source",
        "contamination_report",
        "label_mix_by_source",
        "topic_mix_by_source",
        # ExactSubstr-style span-level dedup (stride-1 window fingerprints)
        "duplicate_spans",
        "span_dedup_report",
        "cross_dedup_spans",
        "span_dedup_corpus",
        "temperature_mix_weights",
        "dataset_splits",
        # statistical QC + JL dimension reduction (r6, second wave)
        "value_zscore_outliers",
        "daily_value_moving_avg",
        "project_embeddings",
        "conversion_funnel",
        "txs_per_day_gapfilled",
        "retention_cohorts",
        "approx_value_percentiles_by_type",
        "winsorize_values",
        "centroid_drift_by_label",
        "hourly_ohlc_by_type",
        "daily_twap_by_type",
        "dedup_normalized",
        "snapshot_diff",
        "importance_sample",
        "value_histogram_by_type",
        "bpe_merges",
        "bpe_token_counts",
        "key_skew_report",
        # the 100 TB bucket-split plan (window twin shares its oracle;
        # benching both would double-pay the bigram LM build it contains)
        "perplexity_buckets_distributed",
        "decontaminate_bloom",
        # capped variant is the benched/production near-dup plan (bounded
        # hot-shingle fan-out); uncapped exists for the oracle gate
        "ngram_jaccard_pairs_capped",
        "minhash_lsh_candidates",
        "simhash_fingerprints",
        # md5-lane SimHash pairs (r13): the oracle-certifiable near-dup
        # path — benching the pairs pays the fingerprint seam cold
        "simhash_md5_pairs",
        # md5-lane MinHash-LSH candidates (r13): same move for the LSH
        # family — pays the signature seam cold
        "minhash_md5_candidates",
        # exact-lattice k-means (r13): pays the unrolled-Lloyd seam cold
        "kmeans_exact_assignments",
        # end-to-end oracle-certified near-dup removal composition (r13)
        "minhash_md5_dedup_corpus",
        "cosine_topk",
        "centroid_by_label",
        "quantize_embeddings",
        # distributed near-dup is the benched/production plan; the
        # collect+broadcast brute force exists as oracle + re-rank kernel
        "lsh_bucket_pairs",
        "lsh_bucket_topk",
        "cluster_quota_sample",
        # round-10 additions: quality-gate tuning metrics (label frame
        # recomputes dedup survivorship + contamination off their seams)
        "quality_gate_auc",
        "quality_gate_pr_curve",
        "quality_gate_calibration",
        # byte-semantics certification fixture (bounded 300-doc input)
        "fuzzy_dedup_unicode",
        # warehouse decision-support suite (TPC-H-shaped, r10)
        "shipping_priority_topk",
        "discount_revenue_opportunity",
        "volume_shipping_by_year",
        "market_share_by_year",
        "product_profit_by_nation_year",
        "customer_order_distribution",
        "promo_revenue_by_month",
        "top_supplier_by_revenue",
        "small_order_revenue",
        "large_volume_customers",
        "brand_quantity_revenue",
        "late_supplier_blame",
        "idle_high_balance_customers",
        # market-basket mining (r10)
        "copurchase_pairs",
        "association_rules",
        # search fusion + forecast baselines (r10)
        "search_rank_fusion",
        "seasonal_naive_error_by_type",
        "ewma_daily_value_by_type",
        # lifetime analytics + product communities + IR presentation (r10)
        "revenue_cohorts",
        "order_interarrival_stats",
        "copurchase_components",
        "search_snippets",
        "lang_id_confusion",
        "order_gap_survival",
        "segment_migration_matrix",
        "segment_churn_rates",
        "revenue_cohorts_incremental",
        "provenance_degree_histogram",
        "followup_rates_matrix",
        "engagement_ratios",
        "fulfillment_latency_by_priority",
        # r11: perceptual media near-dup + lag ACF
        "media_phash_candidates",
        "media_phash_dedup_report",
        "autocorrelation_by_type",
        # r12: memorization-risk profile
        "doc_dup_saturation",
    ]

    # Queries first benched in round 5 (14 of the 58). The headline
    # `value` covers the WHOLE set — but the baseline it's compared to is
    # a single fixed reference workload, so growing the bench set raises
    # the total without anything getting slower. `subtotals` decomposes
    # it: `r4_comparable` is the same 45-query set BENCH_r04 timed.
    R5_ADDITIONS = {
        "paragraph_dedup", "curated_corpus", "corpus_stats_by_source", "domain_quota_sample",
        "domain_token_quota", "corpus_mix", "corpus_mix_tokens",
        "unigram_logprob_scores", "bigram_logprob_scores",
        "perplexity_buckets_distributed", "decontaminate_bloom",
        "quantize_embeddings", "cross_dedup", "cluster_quota_sample",
    }

    # Queries first benched in round 6 — excluded from BOTH legacy
    # subtotals (r4_comparable is computed by exclusion) and from the
    # frozen gate set below.
    R6_ADDITIONS = {
        "trigram_logprob_scores",
        "bm25_search",
        "gopher_quality_gate",
        "tfidf_keywords",
        "source_kl_divergence",
        "vocab_growth",
        "quality_by_source",
        "contamination_report",
        "label_mix_by_source",
        "topic_mix_by_source",
        "duplicate_spans",
        "span_dedup_report",
        "cross_dedup_spans",
        "span_dedup_corpus",
        "temperature_mix_weights",
        "dataset_splits",
        "value_zscore_outliers",
        "daily_value_moving_avg",
        "project_embeddings",
        "conversion_funnel",
        "txs_per_day_gapfilled",
        "retention_cohorts",
        "approx_value_percentiles_by_type",
        "winsorize_values",
        "centroid_drift_by_label",
        "hourly_ohlc_by_type",
        "daily_twap_by_type",
        "dedup_normalized",
        "snapshot_diff",
        "importance_sample",
        "value_histogram_by_type",
        "bpe_merges",
        "bpe_token_counts",
        "key_skew_report",
    }

    # Queries first benched in round 7 — same exclusion rules as
    # R6_ADDITIONS (out of r4_comparable and the frozen gate set).
    R7_ADDITIONS = {
        "ngram5_logprob_scores",
        "perplexity_buckets_ngram5",
        "cdc_chunks",
        "cdc_chunk_dedup",
        "cms_sketch",
        "cms_heavy_hitters",
        "bootstrap_source_stats",
        "hll_registers",
        "hll_distinct_by_source",
        "zipf_fit_by_source",
        "weighted_sample_docs",
        "embedding_cosine_dups_tiled",
        "source_dashboard",
        "weighted_sample_by_source",
        "hll_total_distinct",
        "cms_probe_report",
        "split_leakage_report",
        "boilerplate_chunks",
        "boilerplate_filtered_corpus",
    }

    # Queries first benched in round 8 — same exclusion rules.
    R8_ADDITIONS = {
        "curated_corpus_v2",
        "hdr_value_sketch",
        "hdr_value_quantiles",
        "kmv_sketch",
        "kmv_source_overlap",
        "nb_lang_model",
        "nb_lang_scores",
        "nb_lang_report",
        "silhouette_scores",
        "cluster_quality_report",
        "media_resize_plan",
        "media_frame_samples",
        "mg_summary",
        "mg_heavy_hitters",
        "fuzzy_dup_pairs",
        "fuzzy_dedup_corpus",
        "cross_fuzzy_matches",
        "doc_provenance_edges",
        "doc_authority_rank",
        "hard_negatives",
        "value_cusum_by_type",
        "cusum_alarms",
        "seasonal_decomposition",
        "seasonal_anomalies",
        "value_psi_by_type",
        "events_monitoring_dashboard",
        "event_transition_matrix",
        "event_path_trigrams",
        "top_paths_to_purchase",
        "corpus_checksum_by_source",
        "embedding_covariance",
        "pca_components",
        "fd_sketch",
        "unigram_vocab",
        "unigram_token_counts",
    }

    # Queries first benched in round 9 — same exclusion rules.
    R9_ADDITIONS = {
        "nb_margin_auc",
        "nb_pr_curve",
        "nb_calibration_bins",
        "nb_confusion_matrix",
        "nb_cohens_kappa",
        "pack_efficiency",
        "dedup_impact_report",
        "semantic_decontaminate",
        "table_profile",
        "constraint_checks",
        "pmi_collocations",
        "top_collocations_by_source",
        "doc_label_propagation",
        "oov_rate_by_source",
        "doc_length_histogram",
        "doc_novelty_scores",
        "source_similarity_matrix",
        "curriculum_order",
        "curriculum_order_distributed",
        "ab_variant_report",
        "rfm_segments",
        "value_mad_outliers",
        "value_trend_by_type",
        "type_correlation_matrix",
        "benford_digit_qc",
        "source_concentration",
        "rolling_7d_distinct_users",
        "time_to_conversion",
        "inter_event_gap_stats",
        "quality_rank_by_source",
        "scd2_user_state",
        "provenance_triangles",
        "phrase_search",
        "proximity_search",
        "daily_value_percentiles",
        "type_share_by_day",
        "new_vs_returning_users",
        "late_shipment_rate_by_priority",
        "dedup_cluster_sizes",
        "activity_heatmap",
        "embedding_norm_stats",
    }

    R10_ADDITIONS = {
        "quality_gate_auc",
        "quality_gate_pr_curve",
        "quality_gate_calibration",
        "fuzzy_dedup_unicode",
        "shipping_priority_topk",
        "discount_revenue_opportunity",
        "volume_shipping_by_year",
        "market_share_by_year",
        "product_profit_by_nation_year",
        "customer_order_distribution",
        "promo_revenue_by_month",
        "top_supplier_by_revenue",
        "small_order_revenue",
        "large_volume_customers",
        "brand_quantity_revenue",
        "late_supplier_blame",
        "idle_high_balance_customers",
        "copurchase_pairs",
        "association_rules",
        "search_rank_fusion",
        "seasonal_naive_error_by_type",
        "ewma_daily_value_by_type",
        "revenue_cohorts",
        "order_interarrival_stats",
        "copurchase_components",
        "search_snippets",
        "lang_id_confusion",
        "order_gap_survival",
        "segment_migration_matrix",
        "segment_churn_rates",
        "revenue_cohorts_incremental",
        "provenance_degree_histogram",
        "followup_rates_matrix",
        "engagement_ratios",
        "fulfillment_latency_by_priority",
    }

    R11_ADDITIONS = {
        "media_phash_candidates",
        "media_phash_dedup_report",
        "autocorrelation_by_type",
    }
    R12_ADDITIONS = {
        "doc_dup_saturation",
    }
    R13_ADDITIONS = {
        "simhash_md5_pairs",
        "minhash_md5_candidates",
        "kmeans_exact_assignments",
        "minhash_md5_dedup_corpus",
    }

    # THE FROZEN BENCH GATE SET (declared round 6, per VERDICT r5 #4):
    # the 60 timed queries of BENCH_r05 (the 59 catalog entries above as
    # of r5 + parse_events_wide) are the official perf denominator from
    # now on. Every round reports `subtotals.frozen_r5_set` over exactly
    # these names; coverage added in later rounds lands in the headline
    # `value` but can never move the frozen-set number, so "more queries"
    # can no longer read as "got slower". Target: frozen_r5_set ≤ 2.0× the
    # reference's 14 s single-workload baseline (BASELINE.md). Spelled out
    # literally (not derived from bench_queries) so additions can't leak in.
    FROZEN_R5_SET = frozenset({
        "pricing_summary", "revenue_by_segment", "orders_by_nation",
        "customers_without_orders", "orders_with_returns",
        "top_parts_by_revenue", "nation_revenue_rollup",
        "regional_supplier_revenue", "returned_items_topk", "txs_per_day",
        "cum_txs_per_day", "hourly_value_by_type", "cum_value_by_type",
        "distinct_users_per_day", "events_pivot_by_type",
        "props_json_extract", "brand_number_extract", "event_flows_union",
        "value_cube_by_type_day", "value_percentiles_by_type",
        "day_over_day_txs", "session_stats", "windowed_value_by_type",
        "last_purchase_asof", "events_near_errors", "media_features",
        "media_dedup", "doc_word_counts", "token_stats", "quality_scores",
        "lang_id_scores", "doc_fingerprints", "redact_pii", "doc_chunks",
        "deterministic_sample", "dedup_exact_hash", "cross_dedup",
        "training_corpus", "paragraph_dedup", "curated_corpus",
        "corpus_stats_by_source", "domain_quota_sample",
        "domain_token_quota", "corpus_mix", "corpus_mix_tokens",
        "unigram_logprob_scores", "bigram_logprob_scores",
        "perplexity_buckets_distributed", "decontaminate_bloom",
        "ngram_jaccard_pairs_capped", "minhash_lsh_candidates",
        "simhash_fingerprints", "cosine_topk", "centroid_by_label",
        "quantize_embeddings", "lsh_bucket_pairs", "lsh_bucket_topk",
        "cluster_quota_sample", "parse_events_wide",
    })
    missing_frozen = FROZEN_R5_SET - set(bench_queries) - {"parse_events_wide"}
    assert not missing_frozen, (
        f"frozen r5 gate queries dropped from the bench set: {sorted(missing_frozen)}"
    )

    # One cold pass (JVM JIT, parquet footers, shuffle machinery, Python
    # worker pool — reported for transparency), then WARM_PASSES
    # BACK-TO-BACK timed runs per query; each query reports its MEDIAN and
    # the headline total is the sum of medians. Medians are the
    # stall-robust steady-state number: a single host-load hiccup on a
    # single-task stage once recorded a 0.65 s query as 4.92 s and nearly
    # blew the 2× baseline gate — one bad sample out of three now cannot
    # move any query's number. Before each query group an UNTIMED gc
    # (Python + JVM) releases the prior queries' leftovers — checkpointed
    # RDD blocks and shuffle state only free on driver GC via the
    # ContextCleaner, and across a 53-query catalog that accumulation
    # inflated late-running queries by ~30% (measured: isolated warm
    # steady-state vs in-catalog-context numbers).
    parse_fixture = _ensure_parse_fixture(PARSE_N_BLOCKS)  # untimed build

    cold_start = time.perf_counter()
    for name in bench_queries:
        QUERIES[name](spark, sf_dir).count()
    _parse_events_build(spark, parse_fixture)
    cold_total = round(time.perf_counter() - cold_start, 3)

    def _reclaim() -> None:
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    # host-noise probes, UNTIMED, immediately before the warm passes
    probe_1c, probe_mc = _host_probes()

    samples: dict[str, list[float]] = {}
    parse_rows = 0
    # Interleaved per-segment noise probes (VERDICT r13 #2): same probe
    # unit as the launch pair, recorded with the index/name of the next
    # query so any burst window brackets a known query range.
    probe_segments: list[dict] = []
    for qi, name in enumerate(bench_queries):
        if PROBE_EVERY > 0 and qi > 0 and qi % PROBE_EVERY == 0:
            seg_1c, seg_mc = _host_probes()
            probe_segments.append(
                {"i": qi, "next": name, "probe_1c": seg_1c, "probe_mc": seg_mc}
            )
        spark.sparkContext.setJobDescription(f"bench warm: {name}")
        _reclaim()
        runs = []
        for _ in range(WARM_PASSES):
            start = time.perf_counter()
            QUERIES[name](spark, sf_dir).count()
            runs.append(time.perf_counter() - start)
        samples[name] = runs
    spark.sparkContext.setJobDescription("bench warm: parse_events_wide")
    _reclaim()
    runs = []
    for _ in range(WARM_PASSES):
        start = time.perf_counter()
        parse_rows = _parse_events_build(spark, parse_fixture)
        runs.append(time.perf_counter() - start)
    samples["parse_events_wide"] = runs
    spark.sparkContext.setJobDescription(None)
    # closing probe pair — brackets the tail segment (incl. parse build)
    tail_1c, tail_mc = _host_probes()
    probe_segments.append(
        {"i": len(bench_queries), "next": "(end)", "probe_1c": tail_1c, "probe_mc": tail_mc}
    )
    probe_1c_max = round(max([probe_1c] + [s["probe_1c"] for s in probe_segments]), 3)
    probe_mc_max = round(max([probe_mc] + [s["probe_mc"] for s in probe_segments]), 3)
    timings = {n: round(statistics.median(t), 3) for n, t in samples.items()}
    total = round(sum(timings.values()), 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    subtotals = {
        "r4_comparable": round(
            sum(
                v
                for k, v in timings.items()
                if k not in R5_ADDITIONS
                and k not in R6_ADDITIONS
                and k not in R7_ADDITIONS
                and k not in R8_ADDITIONS
                and k not in R9_ADDITIONS
                and k not in R10_ADDITIONS
                and k not in R11_ADDITIONS
                and k not in R12_ADDITIONS
                and k not in R13_ADDITIONS
            ),
            3,
        ),
        "r5_additions": round(
            sum(v for k, v in timings.items() if k in R5_ADDITIONS), 3
        ),
        "r6_additions": round(
            sum(v for k, v in timings.items() if k in R6_ADDITIONS), 3
        ),
        "r7_additions": round(
            sum(v for k, v in timings.items() if k in R7_ADDITIONS), 3
        ),
        "r8_additions": round(
            sum(v for k, v in timings.items() if k in R8_ADDITIONS), 3
        ),
        "r9_additions": round(
            sum(v for k, v in timings.items() if k in R9_ADDITIONS), 3
        ),
        "r10_additions": round(
            sum(v for k, v in timings.items() if k in R10_ADDITIONS), 3
        ),
        "r11_additions": round(
            sum(v for k, v in timings.items() if k in R11_ADDITIONS), 3
        ),
        "r12_additions": round(
            sum(v for k, v in timings.items() if k in R12_ADDITIONS), 3
        ),
        "r13_additions": round(
            sum(v for k, v in timings.items() if k in R13_ADDITIONS), 3
        ),
        "frozen_r5_set": round(
            sum(v for k, v in timings.items() if k in FROZEN_R5_SET), 3
        ),
    }
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full per-query detail FIRST (humans / PERF_NOTES). The driver keeps
    # only the last ~2000 chars of stdout and json-parses what it finds
    # there; at 90+ queries this detail line alone is >3 kB (BENCH_r06
    # shipped parsed:null because of it), so it must NOT be last.
    detail = {
        "detail": "per_query_medians_sec",
        "queries": timings,
        "probe_1c": probe_1c,
        "probe_mc": probe_mc,
        "probe_segments": probe_segments,
        "probe_1c_max": probe_1c_max,
        "probe_mc_max": probe_mc_max,
        "sf": sf_val,
        "parse_input_blocks": PARSE_N_BLOCKS,
    }
    print(json.dumps(detail))
    # Adjudicating a single-query regression across rounds needs the FULL
    # per-query map, and the driver's stdout tail only keeps the compact
    # summary — so persist the detail to a committed file too.
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
        "w",
    ) as fh:
        json.dump(detail, fh, indent=1)
    # Compact machine-readable summary LAST — the driver's record. The
    # per-query map is capped to the slowest entries, and if the line
    # still exceeds the ~2000-char tail capture (longer names, more
    # subtotal keys in a future round) we DEGRADE by shrinking the map
    # rather than crashing a completed run.
    ranked = sorted(timings.items(), key=lambda kv: kv[1], reverse=True)
    for n_slowest in range(8, -1, -1):
        summary = json.dumps(
            {
                "metric": "bread_spark_headline_queries",
                "value": total,
                "unit": "sec",
                "cold_total": cold_total,
                "warm_passes": WARM_PASSES,
                "probe_1c": probe_1c,
                "probe_mc": probe_mc,
                "probe_1c_max": probe_1c_max,
                "probe_mc_max": probe_mc_max,
                "n_queries": len(timings),
                "subtotals": subtotals,
                "queries": dict(ranked[:n_slowest]),
                "parse_events_rows": parse_rows,
                "sf": sf_val,
            }
        )
        if len(summary) < 1800:
            break
    if len(summary) >= 1800:  # still too long even with zero queries
        print(f"WARNING: bench summary line is {len(summary)} chars", file=sys.stderr)
    print(summary)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
