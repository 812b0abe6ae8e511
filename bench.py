"""Benchmark runner — the driver executes this per-round at sf0.1.

Runs the headline queries on local[$SPARK_GRAFT_CPUS] against
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and prints the full
per-query detail JSON line first, then ONE compact summary JSON line
LAST: {"metric": ..., "value": total_sec, "unit": "sec", "subtotals":
{...}, "queries": {slowest 8}, "sf": ...}. The summary is last and
<1.8 kB because the driver records only the final ~2000 chars of stdout.

Each row times what a user gets: a catalog entry is fully materialized
by a `noop` write (a `count()` lets Catalyst prune the work), and the
`parse_run` row is the flow's bronze→silver hop, a full `parse.run`
rebuild of a cached JSON fixture. The untimed cold pass runs each row
inside a span of `perfbench/spans.Tracer`, which reads the row's jobs,
stages, tasks, CPU seconds, input, shuffle and spill bytes from Spark's
status store into `BENCH_DETAIL.json`; those counters, not wall time,
tell a code change from host noise.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from datetime import timedelta

PARSE_N_BLOCKS = int(os.environ.get("SPARK_GRAFT_PARSE_BLOCKS", "30000"))
WARM_PASSES = int(os.environ.get("SPARK_GRAFT_WARM_PASSES", "3"))
HERE = os.path.dirname(os.path.abspath(__file__))


def _md5_loop(n: int) -> float:
    """Chained-md5 CPU loop — the DECISIONS.md #13 raw-CPU probe unit."""
    import hashlib

    h = b"x" * 64
    t0 = time.perf_counter()
    for _ in range(n):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def _host_probes() -> tuple[float, float]:
    """Host-noise reading (DECISIONS.md #13), measured once, immediately
    before the timed warm passes, and emitted INTO the summary:

    - ``probe_1c``: one thread chaining 2M md5 digests. Clean-host
      reference ~1.0-1.2 s; single-core throttling reads high here.
    - ``probe_mc``: the same work split across SPARK_GRAFT_CPUS forked
      processes (1M digests each), wall seconds. Clean-host reference
      ~1.0-1.1 s on this 32-thread box; multi-core contention (the r8
      noise mode — all bench subtotals move in lockstep while probe_1c
      stays clean) reads high here ONLY.

    Both read clean through the bandwidth-shaped mode (DECISIONS.md #23).
    """
    import concurrent.futures as cf

    ncpu = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    one = _md5_loop(2_000_000)
    t0 = time.perf_counter()
    with cf.ProcessPoolExecutor(ncpu) as ex:
        list(ex.map(_md5_loop, [1_000_000] * ncpu))
    return round(one, 3), round(time.perf_counter() - t0, 3)


# Bump when the generated fixture changes, so no stale cache is reused. v3:
# blocks 6 s apart, the Cosmos Hub's pace, so 30,000 fill 3 day partitions.
PARSE_FIXTURE_VERSION = 3


def _ensure_parse_fixture(n_blocks: int) -> str:
    """Raw blockchain JSON at bench scale (cached in /tmp, built once,
    OUTSIDE the timed region): ~n_blocks blocks + ~n_blocks txs written as
    64 JSON-lines batch files per table so the scan parallelizes."""
    cache = f"/tmp/bread_spark_parse_fixture_v{PARSE_FIXTURE_VERSION}_{n_blocks}"
    done = os.path.join(cache, "_DONE")
    if os.path.exists(done):
        return cache
    shutil.rmtree(cache, ignore_errors=True)
    sys.path.insert(0, HERE)
    from tests.fixtures import make_blocks, make_txs

    blocks = make_blocks(n_blocks, interval=timedelta(seconds=6))
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


def _run_row(spark, sf_dir: str, fixture_dir: str, name: str) -> float:
    """Seconds one bench row takes: a catalog entry built and written to
    `noop`, or `parse_run`, a full `parse.run` rebuild of the fixture into
    a fresh directory, which is removed after the clock stops."""
    if name != "parse_run":
        from bread_spark.queries import QUERIES

        start = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - start
    from bread_spark import parse

    out_dir = tempfile.mkdtemp(prefix="bread_spark_bench_silver_")
    try:
        start = time.perf_counter()
        parse.run(spark, f"{fixture_dir}/blocks", f"{fixture_dir}/txs", out_dir=out_dir)
        return time.perf_counter() - start
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


# Every benched catalog entry → the round it was first benched in, in
# bench order (parse_run, the bronze→silver hop, runs last).
# The headline `value` covers the WHOLE set, but the baseline it is
# compared to is a single fixed reference workload, so growing the bench
# set raises the total without anything getting slower. `subtotals`
# decomposes it by round: `r4_comparable` is the same 45-query set
# BENCH_r04 timed, `r{N}_additions` what round N added.
BENCH_ROUNDS: dict[str, int] = {
    # flagship scan+agg
    "pricing_summary": 4,
    # joins
    "revenue_by_segment": 4,
    "orders_by_nation": 4,
    "customers_without_orders": 4,
    "orders_with_returns": 4,
    "top_parts_by_revenue": 4,
    "nation_revenue_rollup": 4,
    "regional_supplier_revenue": 4,
    "returned_items_topk": 4,
    # time-series aggs + windows
    "txs_per_day": 4,
    "cum_txs_per_day": 4,
    "hourly_value_by_type": 4,
    "cum_value_by_type": 4,
    "distinct_users_per_day": 4,
    "events_pivot_by_type": 4,
    # scalar-function heavy
    "props_json_extract": 4,
    "brand_number_extract": 4,
    "event_flows_union": 4,
    # windows/grouping-set extensions
    "value_cube_by_type_day": 4,
    "value_percentiles_by_type": 4,
    "day_over_day_txs": 4,
    # sessionization + event-time windows
    "session_stats": 4,
    "windowed_value_by_type": 4,
    "last_purchase_asof": 4,
    "events_near_errors": 4,
    # multimodal binary columns
    "media_features": 4,
    "media_dedup": 4,
    # text / dedup / similarity extensions
    "doc_word_counts": 4,
    "token_stats": 4,
    "quality_scores": 4,
    "lang_id_scores": 4,
    "doc_fingerprints": 4,
    "redact_pii": 4,
    "doc_chunks": 4,
    "deterministic_sample": 4,
    "dedup_exact_hash": 4,
    "cross_dedup": 5,
    # end-to-end curation composite (quality → dedup → decontaminate
    # → stratify → shuffle key) — the flagship training-data pipeline
    "training_corpus": 4,
    # corpus-curation family (sub-document dedup, domain quotas,
    # mixture weighting, LM scoring)
    "paragraph_dedup": 5,
    "curated_corpus": 5,
    "corpus_stats_by_source": 5,
    "domain_quota_sample": 5,
    "domain_token_quota": 5,
    "corpus_mix": 5,
    "corpus_mix_tokens": 5,
    "unigram_logprob_scores": 5,
    "bigram_logprob_scores": 5,
    # round-6 additions (outside the frozen r5 gate set): trigram LM
    # with backoff, BM25 relevance search, Gopher fixed-rule gate,
    # per-doc TF-IDF keywords, per-source KL drift, Heaps-law vocab
    # growth, per-source quality rollup
    "trigram_logprob_scores": 6,
    # round-7 additions: 5-gram deleted-interpolation LM (KenLM
    # order) + the CCNet bucket split under it (seam-shared scores),
    # and content-defined chunking (rolling-hash boundaries)
    "ngram5_logprob_scores": 7,
    "perplexity_buckets_ngram5": 7,
    "cdc_chunks": 7,
    "cdc_chunk_dedup": 7,
    "cms_sketch": 7,
    "cms_heavy_hitters": 7,
    "bootstrap_source_stats": 7,
    "hll_registers": 7,
    "hll_distinct_by_source": 7,
    "zipf_fit_by_source": 7,
    "weighted_sample_docs": 7,
    "embedding_cosine_dups_tiled": 7,
    "source_dashboard": 7,
    "weighted_sample_by_source": 7,
    "hll_total_distinct": 7,
    "cms_probe_report": 7,
    "split_leakage_report": 7,
    "boilerplate_chunks": 7,
    "boilerplate_filtered_corpus": 7,
    # round-8 additions: the r7-gate end-to-end pipeline (boilerplate
    # → CDC dedup → 5-gram perplexity gate → decontaminate → splits
    # → packing), the HDR/DDSketch log-histogram quantile sketch,
    # the KMV bottom-k set-overlap sketch, the hashed-feature
    # Naive Bayes classifier family, and the silhouette cluster-QC
    # family
    "curated_corpus_v2": 8,
    "hdr_value_sketch": 8,
    "hdr_value_quantiles": 8,
    "kmv_sketch": 8,
    "kmv_source_overlap": 8,
    "nb_lang_model": 8,
    "nb_lang_scores": 8,
    "nb_lang_report": 8,
    "silhouette_scores": 8,
    "cluster_quality_report": 8,
    "media_resize_plan": 8,
    "media_frame_samples": 8,
    "mg_summary": 8,
    "mg_heavy_hitters": 8,
    "fuzzy_dup_pairs": 8,
    "fuzzy_dedup_corpus": 8,
    "cross_fuzzy_matches": 8,
    "doc_provenance_edges": 8,
    "doc_authority_rank": 8,
    "hard_negatives": 8,
    "value_cusum_by_type": 8,
    "cusum_alarms": 8,
    "seasonal_decomposition": 8,
    "seasonal_anomalies": 8,
    "value_psi_by_type": 8,
    "events_monitoring_dashboard": 8,
    "event_transition_matrix": 8,
    "event_path_trigrams": 8,
    "top_paths_to_purchase": 8,
    "corpus_checksum_by_source": 8,
    "embedding_covariance": 8,
    "pca_components": 8,
    "fd_sketch": 8,
    "unigram_vocab": 8,
    "unigram_token_counts": 8,
    # round-9 additions: exact-integer ranking/calibration metrics
    # for the learned gates (Mann-Whitney ROC-AUC over NB margins,
    # precision/recall at fixed gates, margin-decile calibration),
    # the classifier agreement rollups (confusion matrix + Cohen's
    # kappa), and the packing-efficiency / dedup-impact dashboards
    "nb_margin_auc": 9,
    "nb_pr_curve": 9,
    "nb_calibration_bins": 9,
    "nb_confusion_matrix": 9,
    "nb_cohens_kappa": 9,
    "pack_efficiency": 9,
    "dedup_impact_report": 9,
    "semantic_decontaminate": 9,
    # round-9 additions, second wave: the data-quality expectation
    # suite (per-column profiles + declared constraint verdicts) and
    # PMI collocation mining off the shared LM count seams
    "table_profile": 9,
    "constraint_checks": 9,
    "pmi_collocations": 9,
    "top_collocations_by_source": 9,
    # semi-supervised label spread over the shared provenance-edge seam
    "doc_label_propagation": 9,
    # tokenizer-fit diagnostics: OOV vs frozen vocab, doubling-bucket lengths
    "oov_rate_by_source": 9,
    "doc_length_histogram": 9,
    # first-seen content ratio off the shared capped-shingle seam
    "doc_novelty_scores": 9,
    # per-source centroid cosine matrix (corpus cartography)
    "source_similarity_matrix": 9,
    # easy→hard curriculum order (window + distributed two-pass forms)
    "curriculum_order": 9,
    "curriculum_order_distributed": 9,
    # A/B variant comparison from exact integer moments
    "ab_variant_report": 9,
    # RFM quartile segmentation + MAD robust outlier QC
    "rfm_segments": 9,
    "value_mad_outliers": 9,
    # exact-moment statistics wave: OLS trend + Pearson matrix off the
    # daily seam, Benford first-digit QC, Gini/HHI concentration,
    # trailing-7d distinct users via the bounded x7 fan-out
    "value_trend_by_type": 9,
    "type_correlation_matrix": 9,
    "benford_digit_qc": 9,
    "source_concentration": 9,
    "rolling_7d_distinct_users": 9,
    # behavioral timing + within-source percentile normalization
    "time_to_conversion": 9,
    "inter_event_gap_stats": 9,
    "quality_rank_by_source": 9,
    # SCD2 temporalization + provenance triangle census
    "scd2_user_state": 9,
    "provenance_triangles": 9,
    # positional IR probes: exact phrase + bounded proximity
    "phrase_search": 9,
    "proximity_search": 9,
    # daily operations rollups: bands, composition, growth accounting
    "daily_value_percentiles": 9,
    "type_share_by_day": 9,
    "new_vs_returning_users": 9,
    # TPC-H Q12-shaped fulfilment SLA
    "late_shipment_rate_by_priority": 9,
    # dedup-QC: cluster-size doubling histogram off the cluster seam
    "dedup_cluster_sizes": 9,
    # hour-of-week heatmap + embedding norm-bucket QC
    "activity_heatmap": 9,
    "embedding_norm_stats": 9,
    "bm25_search": 6,
    "gopher_quality_gate": 6,
    "tfidf_keywords": 6,
    "source_kl_divergence": 6,
    "vocab_growth": 6,
    "quality_by_source": 6,
    "contamination_report": 6,
    "label_mix_by_source": 6,
    "topic_mix_by_source": 6,
    # ExactSubstr-style span-level dedup (stride-1 window fingerprints)
    "duplicate_spans": 6,
    "span_dedup_report": 6,
    "cross_dedup_spans": 6,
    "span_dedup_corpus": 6,
    "temperature_mix_weights": 6,
    "dataset_splits": 6,
    # statistical QC + JL dimension reduction (r6, second wave)
    "value_zscore_outliers": 6,
    "daily_value_moving_avg": 6,
    "project_embeddings": 6,
    "conversion_funnel": 6,
    "txs_per_day_gapfilled": 6,
    "retention_cohorts": 6,
    "approx_value_percentiles_by_type": 6,
    "winsorize_values": 6,
    "centroid_drift_by_label": 6,
    "hourly_ohlc_by_type": 6,
    "daily_twap_by_type": 6,
    "dedup_normalized": 6,
    "snapshot_diff": 6,
    "importance_sample": 6,
    "value_histogram_by_type": 6,
    "bpe_merges": 6,
    "bpe_token_counts": 6,
    "key_skew_report": 6,
    # the 100 TB bucket-split plan (window twin shares its oracle;
    # benching both would double-pay the bigram LM build it contains)
    "perplexity_buckets_distributed": 5,
    "decontaminate_bloom": 5,
    # capped variant is the benched/production near-dup plan (bounded
    # hot-shingle fan-out); uncapped exists for the oracle gate
    "ngram_jaccard_pairs_capped": 4,
    "minhash_lsh_candidates": 4,
    "simhash_fingerprints": 4,
    # md5-lane SimHash pairs (r13): the oracle-certifiable near-dup
    # path — benching the pairs pays the fingerprint seam cold
    "simhash_md5_pairs": 13,
    # md5-lane MinHash-LSH candidates (r13): same move for the LSH
    # family — pays the signature seam cold
    "minhash_md5_candidates": 13,
    # exact-lattice k-means (r13): pays the unrolled-Lloyd seam cold
    "kmeans_exact_assignments": 13,
    # end-to-end oracle-certified near-dup removal composition (r13)
    "minhash_md5_dedup_corpus": 13,
    "cosine_topk": 4,
    "centroid_by_label": 4,
    "quantize_embeddings": 5,
    # distributed near-dup is the benched/production plan; the
    # collect+broadcast brute force exists as oracle + re-rank kernel
    "lsh_bucket_pairs": 4,
    "lsh_bucket_topk": 4,
    "cluster_quota_sample": 5,
    # round-10 additions: quality-gate tuning metrics (label frame
    # recomputes dedup survivorship + contamination off their seams)
    "quality_gate_auc": 10,
    "quality_gate_pr_curve": 10,
    "quality_gate_calibration": 10,
    # byte-semantics certification fixture (bounded 300-doc input)
    "fuzzy_dedup_unicode": 10,
    # warehouse decision-support suite (TPC-H-shaped, r10)
    "shipping_priority_topk": 10,
    "discount_revenue_opportunity": 10,
    "volume_shipping_by_year": 10,
    "market_share_by_year": 10,
    "product_profit_by_nation_year": 10,
    "customer_order_distribution": 10,
    "promo_revenue_by_month": 10,
    "top_supplier_by_revenue": 10,
    "small_order_revenue": 10,
    "large_volume_customers": 10,
    "brand_quantity_revenue": 10,
    "late_supplier_blame": 10,
    "idle_high_balance_customers": 10,
    # market-basket mining (r10)
    "copurchase_pairs": 10,
    "association_rules": 10,
    # search fusion + forecast baselines (r10)
    "search_rank_fusion": 10,
    "seasonal_naive_error_by_type": 10,
    "ewma_daily_value_by_type": 10,
    # lifetime analytics + product communities + IR presentation (r10)
    "revenue_cohorts": 10,
    "order_interarrival_stats": 10,
    "copurchase_components": 10,
    "search_snippets": 10,
    "lang_id_confusion": 10,
    "order_gap_survival": 10,
    "segment_migration_matrix": 10,
    "segment_churn_rates": 10,
    "revenue_cohorts_incremental": 10,
    "provenance_degree_histogram": 10,
    "followup_rates_matrix": 10,
    "engagement_ratios": 10,
    "fulfillment_latency_by_priority": 10,
    # r11: perceptual media near-dup + lag ACF
    "media_phash_candidates": 11,
    "media_phash_dedup_report": 11,
    "autocorrelation_by_type": 11,
    # r12: memorization-risk profile
    "doc_dup_saturation": 12,
    "parse_run": 4,
}

# THE FROZEN BENCH GATE SET (declared round 6, per VERDICT r5 #4):
# the 60 timed queries of BENCH_r05 (the 59 catalog entries above as
# of r5 + the parse row, now parse_run) are the official perf
# denominator from now on. Every round reports `subtotals.frozen_r5_set`
# over exactly these names; coverage added in later rounds lands in the headline
# `value` but can never move the frozen-set number, so "more queries"
# can no longer read as "got slower". Target: frozen_r5_set ≤ 2.0× the
# reference's 14 s single-workload baseline (BASELINE.md). Spelled out
# literally (not derived from BENCH_ROUNDS) so additions can't leak in.
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
    "cluster_quota_sample", "parse_run",
})


def _subtotals(timings: dict[str, float]) -> dict[str, float]:
    """Per-round sums of the per-query medians, then the frozen gate set."""
    by_round: dict[int, float] = {}
    for name, sec in timings.items():
        by_round[BENCH_ROUNDS[name]] = by_round.get(BENCH_ROUNDS[name], 0) + sec
    subtotals = {
        ("r4_comparable" if r == 4 else f"r{r}_additions"): round(by_round.get(r, 0), 3)
        for r in sorted(set(BENCH_ROUNDS.values()))
    }
    subtotals["frozen_r5_set"] = round(
        sum(v for k, v in timings.items() if k in FROZEN_R5_SET), 3
    )
    return subtotals


def _summary(timings: dict[str, float], **fields) -> str:
    """The compact summary line, the run's record: the total, `fields`,
    the subtotals and the slowest queries. If the line exceeds the last
    ~2000 chars of stdout that a bench harness keeps, the per-query map
    shrinks rather than a completed run crashing."""
    ranked = sorted(timings.items(), key=lambda kv: kv[1], reverse=True)
    for n_slowest in range(8, -1, -1):
        line = json.dumps(
            {
                "metric": "bread_spark_headline_queries",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                **fields,
                "n_queries": len(timings),
                "subtotals": _subtotals(timings),
                "queries": dict(ranked[:n_slowest]),
            }
        )
        if len(line) < 1800:
            return line
    print(f"WARNING: bench summary line is {len(line)} chars", file=sys.stderr)
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

    from bread_spark.session import get_spark
    from perfbench.spans import STAGE_COUNTERS, Tracer

    spark = get_spark(app_name="bread-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    parse_fixture = _ensure_parse_fixture(PARSE_N_BLOCKS)  # untimed build

    # One cold pass (JVM JIT, parquet footers, shuffle machinery, Python
    # worker pool — reported for transparency), each row in a span whose
    # work counters go to BENCH_DETAIL.json, then WARM_PASSES BACK-TO-BACK
    # untraced timed runs per row; each row reports its MEDIAN and the
    # headline total is the sum of medians. Medians are the stall-robust
    # steady-state number: a single host-load hiccup on a single-task
    # stage once recorded a 0.65 s query as 4.92 s and nearly blew the 2×
    # baseline gate — one bad sample out of three now cannot move any
    # row's number. Before each row an UNTIMED gc (Python + JVM) releases
    # the prior rows' leftovers — checkpointed RDD blocks and shuffle
    # state only free on driver GC via the ContextCleaner, and across a
    # 53-query catalog that accumulation inflated late-running queries by
    # ~30% (measured: isolated warm steady-state vs in-catalog-context
    # numbers).
    tracer = Tracer(spark, active=True)
    tracer.enabled = True
    counters: dict[str, dict[str, float]] = {}
    cold_start = time.perf_counter()
    for name in BENCH_ROUNDS:
        with tracer.span(name) as span:
            _run_row(spark, sf_dir, parse_fixture, name)
        counters[name] = {k: round(span.counters[k], 3) for k in STAGE_COUNTERS}
    cold_total = round(time.perf_counter() - cold_start, 3)

    probe_1c, probe_mc = _host_probes()  # untimed, right before the warm passes
    samples: dict[str, list[float]] = {}
    for name in BENCH_ROUNDS:
        spark.sparkContext.setJobDescription(f"bench warm: {name}")
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        samples[name] = [_run_row(spark, sf_dir, parse_fixture, name) for _ in range(WARM_PASSES)]
    spark.sparkContext.setJobDescription(None)
    timings = {n: round(statistics.median(t), 3) for n, t in samples.items()}

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full per-query detail FIRST (humans / PERF_NOTES). The driver keeps
    # only the last ~2000 chars of stdout and json-parses what it finds
    # there; at 90+ queries this detail line alone is >3 kB (BENCH_r06
    # shipped parsed:null because of it), so it must NOT be last.
    detail = {
        "detail": "per_query_medians_sec",
        "queries": timings,
        "counters": counters,
        "probe_1c": probe_1c,
        "probe_mc": probe_mc,
        "sf": sf_val,
        "parse_input_blocks": PARSE_N_BLOCKS,
    }
    print(json.dumps(detail))
    # Adjudicating a single-query regression across rounds needs the FULL
    # per-query map and counters, and a stdout tail capture keeps only
    # the compact summary — so persist the detail to a committed file too.
    with open(os.path.join(HERE, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    print(
        _summary(
            timings,
            cold_total=cold_total,
            warm_passes=WARM_PASSES,
            probe_1c=probe_1c,
            probe_mc=probe_mc,
            sf=sf_val,
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
