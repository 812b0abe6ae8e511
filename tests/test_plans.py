"""Physical-plan audits — the scale contract, asserted.

Correctness tests prove the math; these prove the *plan* is the one that
survives a 100× scale-up: filters reach the parquet scan, columns are
pruned, aggregations have map-side partials, small sides broadcast, top-k
uses rank-limit pushdown, and nothing degenerates into a cartesian
product. A regression here is a performance bug even when results stay
correct.
"""

from __future__ import annotations

import pytest

from bread_spark.queries import QUERIES


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    """LAZY per-name plan text (r13): each pin builds ONLY its target
    query's frame on first touch (construction executes seam builds and
    bounded collects — the expensive part), memoized for the module.
    The eager whole-catalog catalog_plans fixture this replaces made
    test_plans the tier's tallest file once the oracle sweep was
    segmented; the whole-catalog no-cartesian sweep now rides the
    segment files (which construct their frames anyway), with the
    rows-only remainder swept below. Seams shared across pins still
    build once (plans/materialize.py)."""
    cache: dict[str, str] = {}

    def get(name: str) -> str:
        if name not in cache:
            cache[name] = physical_plan(QUERIES[name](spark, sf_dir))
        return cache[name]

    return get


def test_pricing_summary_pushdown_and_partial_agg(plans):
    p = plans("pricing_summary")
    # date predicate reaches the parquet reader, not a post-scan Filter
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p
    # column pruning: untouched wide columns never leave the scan
    assert "l_comment" not in p
    # map-side combine before the exchange
    assert "partial_sum" in p


def test_join_queries_broadcast_small_sides(plans):
    for name in ["revenue_by_segment", "orders_by_nation", "top_parts_by_revenue"]:
        p = plans(name)
        assert "BroadcastHashJoin" in p, name
        assert "CartesianProduct" not in p, name


def test_anti_join_stays_broadcast_or_hash(plans):
    p = plans("customers_without_orders")
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_semi_join_shape(plans):
    p = plans("orders_with_returns")
    assert "LeftSemi" in p
    # returnflag filter reaches the lineitem scan
    assert "EqualTo(l_returnflag,R)" in p.replace(" ", "")


def test_cosine_topk_rank_limit_pushdown(plans):
    p = plans("cosine_topk")
    # WindowGroupLimit prunes to k rows per partition *before* the shuffle
    assert "WindowGroupLimit" in p
    # scoring is the Arrow/BLAS map stage, not a pair join
    assert "MapInPandas" in p
    assert "Join" not in p


def test_ivf_probe_join_is_broadcast(plans):
    """IVF candidate generation must broadcast the (tiny) probe table
    onto the corpus assignment — no shuffle of the corpus for candidate
    selection; scoring stays in the Arrow map stage."""
    p = plans("ivf_topk")
    assert "BroadcastHashJoin" in p
    assert "MapInPandas" in p
    assert "CartesianProduct" not in p


def test_lsh_bucket_pairs_no_driver_side_join(plans):
    """The distributed near-dup plan: in-bucket scoring via grouped
    pandas, pair dedup via one extra exchange — nothing else."""
    p = plans("lsh_bucket_pairs")
    assert "FlatMapGroupsInPandas" in p
    assert p.count("Exchange hashpartitioning") == 2
    assert "Join" not in p


def test_aggregations_have_map_side_partials(plans):
    for name in ["txs_per_day", "revenue_by_segment", "centroid_by_label"]:
        assert "partial_" in plans(name), name


def test_registry_partition_accounting():
    """The whole-catalog no-cartesian sweep (VERDICT r8 #2) is now
    tiled: the four oracle segment files sweep every oracle-backed
    entry's plan (frames in hand from the differential), and
    test_no_cartesian_rows_only sweeps the remainder. This accounts —
    in pure python, no builds — that the tiles cover the registry
    exactly, so a new entry cannot dodge the sweep."""
    from tests.oracle_segments import N_SEGMENTS, segment
    from bread_spark.queries import ORACLES

    tiled = [n for k in range(N_SEGMENTS) for n in segment(k)]
    assert sorted(tiled) == sorted(ORACLES)
    assert set(ORACLES) | (set(QUERIES) - set(ORACLES)) == set(QUERIES)


def test_no_cartesian_rows_only(plans):
    # embedding_cosine_dups is a deliberate BroadcastNestedLoopJoin
    # (all-pairs semantics; oracle-backed, swept in its segment);
    # everything else must be keyed or broadcast.
    from bread_spark.queries import ORACLES

    for name in sorted(set(QUERIES) - set(ORACLES)):
        assert "CartesianProduct" not in plans(name), name


def test_silver_partition_pruning(spark, tmp_path):
    """The year/month/day Hive layout must prune at the scan: a day-
    filtered read of partitioned silver touches one partition directory,
    shown as PartitionFilters on the FileScan (SURVEY §4 row 1)."""
    from bread_spark import parse as P
    from tests.fixtures import write_fixture_files

    bdir, tdir, blocks, txs = write_fixture_files(str(tmp_path / "bronze"))
    out = str(tmp_path / "silver")
    P.run(spark, bdir, tdir, out_dir=out)

    silver = spark.read.parquet(f"{out}/blocks")
    one_day = silver.filter("day = '2023-07-01'")
    plan = physical_plan(one_day)
    assert "PartitionFilters: [isnotnull(day" in plan
    # pruned scan reads fewer files than the full table
    assert one_day.count() < silver.count()
    assert one_day.select("day").distinct().count() == 1


def test_vocab_topk_uses_take_ordered_not_global_window(plans):
    """Top-k over the distinct-token aggregate must be a distributed
    TakeOrderedAndProject; the only Window left runs on the already-
    limited k rows (VERDICT r2 #5)."""
    p = plans("vocab_topk")
    assert "TakeOrderedAndProject" in p
    # the window (rank assignment) sits ABOVE the take-ordered limit, so
    # its input is k rows, not the full vocabulary
    assert p.index("Window") < p.index("TakeOrderedAndProject")


def test_token_count_consumers_ride_seams(plans):
    """r14 wave 2: token-frequency consumers read the shared count
    seams instead of re-tokenizing the corpus per invocation.
    vocab_topk's only input is the checkpointed corpus fold (zero
    parquet scans); the per-source collocation miner keeps exactly ONE
    text scan (the bigram pair stream — pairs cannot fold from unigram
    counts; its uni/u1/u2/totals previously re-evaluated the unigram
    subtree 3x); the unigram LM scorer keeps one (the per-doc
    join-back stream — its LM aggregate rides the order-1 lm_counts
    seam); the MG calibration's true side folds the seam (only the
    shard-keyed summary scans remain — 2 in this AQE-off suite, where the
    repeated summary subtrees plan as ReusedExchange; 6 with AQE on)."""
    p = plans("vocab_topk")
    assert p.count("Scan parquet") == 0
    assert "Scan ExistingRDD" in p
    assert plans("top_collocations_by_source").count("Scan parquet") == 1
    assert plans("unigram_logprob_scores").count("Scan parquet") == 1
    assert plans("mg_heavy_hitters").count("Scan parquet") == 2


def test_shuffle_order_distributed_has_no_window(plans):
    """The scale path ranks via range partitioning + per-partition offsets
    — no Window operator (and so no single-partition sort) anywhere."""
    p = plans("shuffle_order_distributed")
    assert "Window" not in p
    assert "MapInPandas" in p


def test_simhash_single_doc_keyed_shuffle(plans):
    """SimHash must shuffle one row per token keyed on doc_id alone — the
    64 bit-sums ride as aggregate expressions with map-side partials, not
    as a 64×-exploded (doc_id, bit) key (VERDICT r2 #4)."""
    p = plans("simhash_fingerprints")
    assert "Exchange hashpartitioning(doc_id" in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in p


def test_simhash_md5_pairs_banded_equijoin(plans):
    """md5-SimHash pairs (r13): candidates meet ONLY inside
    (band_idx, band_val) cells — the join must be an equi-hash-join on
    both band keys with the exact Hamming verify riding as the join
    condition, never a nested-loop/cartesian pairing."""
    p = plans("simhash_md5_pairs")
    assert "HashJoin [band_idx" in p  # equi-join on both band keys
    assert "bit_count" in p  # exact verify fused into the join condition
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_kmeans_exact_assignment_broadcast_no_cartesian(spark, sf_dir):
    """The exact-lattice Lloyd rounds (r13): each assignment is the
    silhouette n·k·d shape — the k×dims centroid table broadcasts
    (bounded by construction) and the argmin rides min(struct) partial
    aggregates; no cartesian product, no driver collect anywhere in the
    unrolled trainer."""
    from bread_spark.extensions.similarity import _kmeans_exact_df
    from bread_spark.io import load_table

    p = physical_plan(
        _kmeans_exact_df(
            load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        )
    )
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_min" in p


def test_minhash_md5_candidates_banded_equijoin(plans):
    """md5-MinHash candidates (r13): pairs form ONLY inside (band,
    bucket) equi-join cells; the agreement verify is doc-id-keyed joins
    against the signature table — never a nested-loop/cartesian stage."""
    p = plans("minhash_md5_candidates")
    assert "HashJoin [band" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


@pytest.mark.parametrize("lane", ["xxhash64", "md5"])
def test_minhash_md5_signature_single_shuffle(spark, sf_dir, lane):
    """Both signature builds (pre-seam) — the xxhash64 one under the
    LSH bands and the md5 one — keep the one-shuffle shape: a single
    Exchange keyed on doc_id with map-side partial mins — not a
    per-permutation explode."""
    from bread_spark.extensions.dedup import (
        _minhash_md5_sig_df,
        _word_shingles_with_dups,
        minhash_signatures,
    )
    from bread_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    if lane == "md5":
        p = physical_plan(_minhash_md5_sig_df(docs))
    else:
        p = physical_plan(minhash_signatures(_word_shingles_with_dups(docs)))
    assert "Exchange hashpartitioning(doc_id" in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_min" in p


def test_dedup_hash_shuffles_digest_not_body(plans):
    p = plans("dedup_exact_hash")
    # the exchange key is the md5 digest, and the document body is pruned
    # away before the shuffle (projection contains md5, not text)
    assert "Exchange hashpartitioning(content_hash" in p


def test_paragraph_dedup_shuffles_digest_not_chunk_text(spark, sf_dir):
    """The winner aggregate and the first-occurrence join must be keyed on
    the 16-byte chunk digest — raw chunk text may ride only as payload
    into the doc_id-keyed reassembly (VERDICT r4 #3).

    Audited on the `paragraph_dedup_df` builder: the catalog entry now
    serves the compute-once seam frame (plans/materialize.py), whose
    localCheckpoint cuts lineage — the builder IS the plan the seam
    materializes."""
    from bread_spark.extensions.curation import paragraph_dedup_df
    from bread_spark.io import load_table

    p = physical_plan(
        paragraph_dedup_df(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        )
    )
    assert "Exchange hashpartitioning(chash" in p
    assert "Exchange hashpartitioning(chunk" not in p
    # reassembly is the only doc_id-keyed exchange; no extra per-doc
    # sizes aggregate + join (n_chunks rides from the scan)
    assert p.count("Exchange hashpartitioning(doc_id") == 1


def test_corpus_mix_full_epochs_are_shuffle_free(plans):
    """Repetition-factor fan-out is an in-array sequence + explode — the
    whole corpus_mix plan must contain NO exchange at all (pipelines with
    the scan at any scale)."""
    p = plans("corpus_mix")
    assert "Exchange" not in p
    assert "Generate explode" in p


def test_domain_token_quota_single_window_exchange(plans):
    """One per-source window pass: exactly one hash exchange (on source),
    no join, no second aggregate."""
    p = plans("domain_token_quota")
    assert p.count("Exchange hashpartitioning") == 1
    assert "Exchange hashpartitioning(source" in p
    assert "Join" not in p


def test_bigram_lm_joins_broadcast_and_pairs_join_once(spark, sf_dir):
    """The exploded pair stream must meet exactly ONE broadcast join (the
    pre-scored lm_pair table); the LM assembly joins happen on the small
    aggregate side. No sort-merge join anywhere at LM-broadcastable
    sizes.

    Audited on the order-2 `ngram_logprob_scores_df` builder — the
    catalog entry serves the compute-once seam frame (lineage cut by
    localCheckpoint)."""
    from bread_spark.extensions.curation import ngram_logprob_scores_df
    from bread_spark.io import load_table

    p = physical_plan(
        ngram_logprob_scores_df(
            load_table(spark, sf_dir, "documents").select("doc_id", "text"), 2
        )
    )
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_decontaminate_bloom_filter_broadcasts_as_one_row(plans):
    """The filter ships as a single-row broadcast (BroadcastNestedLoopJoin
    over IdentityBroadcastMode after a SinglePartition fold) and the
    corpus and probe shingle sets NEVER meet in a keyed join — the
    membership test is a map-side expression. The only shingle-keyed
    exchanges are the per-doc distinct (shared with the exact path) and
    the fixed-size filter build."""
    p = plans("decontaminate_bloom")
    assert "BroadcastNestedLoopJoin BuildRight, Inner" in p
    assert "Exchange SinglePartition" in p
    assert "SortMergeJoin" not in p
    # the corpus→probe membership must not be a join keyed on shingle
    assert "BroadcastHashJoin [shingle" not in p


def test_corpus_mix_tokens_full_epochs_pipeline_with_scan(plans):
    """Token-budgeted mixing: the full-epoch fan-out must stay a
    shuffle-free explode over the scan; the fractional epoch pays exactly
    one source-keyed exchange for its running-sum window (the per-source
    totals broadcast — their build-side aggregate is the only other
    exchange); and the totals join must broadcast, never sort-merge."""
    p = plans("corpus_mix_tokens")
    assert "Generate explode" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert p.count("Exchange hashpartitioning(source") == 2  # window + totals build
    assert "Exchange hashpartitioning(doc_id" not in p


def test_gopher_gate_is_shuffle_free(plans):
    """Every Gopher-rule signal is a JVM higher-order expression over the
    token array — the whole plan must pipeline with the scan (no exchange
    of any kind)."""
    p = plans("gopher_quality_gate")
    assert "Exchange" not in p


def test_tfidf_window_group_limit_and_broadcast_idf(plans):
    """Top-k keywords must prune via WindowGroupLimit before any sort
    materializes the full term list; idf joins back as a broadcast; no
    sort-merge join at broadcastable vocab sizes. The tf table is
    materialized, so the only parquet scan left in the final plan is the
    count-star for n_docs — the text column is read exactly once."""
    p = plans("tfidf_keywords")
    assert "WindowGroupLimit" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert p.count("Scan parquet") <= 1


def test_bm25_top_n_is_take_ordered(plans):
    """The final top-n must be TakeOrderedAndProject (distributed
    per-partition top-k), never a global sort; scoring joins broadcast.
    Stats, tf/df, and the scoring join all derive from the materialized
    per-doc frame — zero parquet scans in the final plan (one text pass
    total, paid at materialization)."""
    p = plans("bm25_search")
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert p.count("Scan parquet") == 0


def test_source_kl_single_token_pass(plans):
    """The (source, token) aggregate is materialized once and the three
    derived aggregates (corpus / per-source / grand totals) read it — so
    the plan must contain ZERO Generate nodes (the exploded text stream
    lives entirely upstream of the checkpoint; without it Spark
    re-executed scan+explode+agg four times, since the derived exchanges
    differ in key and ReusedExchange never fires)."""
    p = plans("source_kl_divergence")
    assert p.count("Generate explode") == 0
    assert "Scan ExistingRDD" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_vocab_growth_single_hash_exchange(plans):
    """The position window, first-occurrence aggregate, and checkpoint
    cumsum all ride source-keyed partitioning — the plan needs only ONE
    hash exchange and no join at all."""
    p = plans("vocab_growth")
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p


def test_zscore_outliers_broadcast_stats_no_big_shuffle(plans):
    """The per-type stats side is one row per type → must broadcast; the
    raw event scan must never hit a shuffle exchange (the whole point of
    the shape at 100 TB)."""
    p = plans("value_zscore_outliers")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_project_embeddings_is_pure_map_side(plans):
    """The JL sign matrix is a compile-time literal: the projection plan
    must contain no exchange, no join, no aggregate — scan → project →
    explode only."""
    p = plans("project_embeddings")
    assert "Exchange" not in p
    assert "Join" not in p
    assert "HashAggregate" not in p
    assert "Generate" in p  # the posexplode to driver-hashable rows


def test_conversion_funnel_single_user_shuffle_no_joins(plans):
    """The funnel is cumulative windows + a same-key aggregate: exactly
    one exchange on user_id (shared by both Window operators and the
    per-user HashAggregate) plus the tiny day rollup — and never a
    self-join or pattern-match blowup."""
    p = plans("conversion_funnel")
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning(user_id") == 1


def test_ohlc_single_exchange_with_partials(plans):
    """min_by/max_by OHLC: map-side partial aggregation and exactly one
    exchange — never a per-row window sort over the raw events. (Spark
    plans ordered-buffer aggregates as SortAggregate; the partial/final
    split and single shuffle are the scale contract.)"""
    p = plans("hourly_ohlc_by_type")
    assert "partial_" in p
    assert p.count("Exchange") == 1
    assert "Window" not in p


@pytest.mark.parametrize("order", [3, 5])
def test_ngram_lm_broadcast_at_test_scale_and_keyed_degrade(spark, sf_dir, order):
    """VERDICT r6 #4a. Default mode: every LM scoring join is broadcast
    (the count tables are KB-scale at test vocab) — no sort-merge join,
    no cartesian. Degrade mode (`broadcast_lm=False`, the real-web-corpus
    vocabulary path where the 3/4/5-gram tables are tens of GB — the
    largest objects in a real-corpus run): the SAME joins run keyed on
    the n-gram — shuffle joins are allowed, a cartesian/broadcast-
    nested-loop never is, and no driver collect exists in either plan.
    Both modes must return identical rows.

    Audited on the `ngram_logprob_scores_df` builder — the catalog
    entries serve compute-once seam frames (lineage cut by
    localCheckpoint)."""
    from bread_spark.extensions.curation import ngram_logprob_scores_df
    from bread_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    bcast = ngram_logprob_scores_df(docs, order)
    p = physical_plan(bcast)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p

    # broadcast_lm=False removes the hints and leaves the choice to
    # Catalyst's stats: at test vocab it still auto-broadcasts (right
    # call); above autoBroadcastJoinThreshold the SAME plan becomes keyed
    # shuffle joins. Simulate over-threshold tables by disabling
    # auto-broadcast and assert the keyed
    # forms appear — degenerate forms stay banned. The only nested-loop
    # joins allowed are the 1-row corpus-total broadcasts, which are
    # hinted in both modes.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        keyed = ngram_logprob_scores_df(docs, order, broadcast_lm=False)
        pk = physical_plan(keyed)
        assert "CartesianProduct" not in pk
        assert "SortMergeJoin" in pk or "ShuffledHashJoin" in pk
        assert pk.count("BroadcastNestedLoopJoin") == p.count(
            "BroadcastNestedLoopJoin"
        )
        got_k = {
            r["doc_id"]: (r["n_tokens"], r["mean_logp"]) for r in keyed.collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    got_b = {r["doc_id"]: (r["n_tokens"], r["mean_logp"]) for r in bcast.collect()}
    assert got_b == got_k


def test_ngram5_buckets_ride_the_scored_seam(plans):
    """`perplexity_buckets_ngram5` must consume the materialized
    order-5 `lm_scored_frame` — its final plan is the NTILE window over the
    checkpointed scores, with ZERO parquet scans (the one text pass is
    paid at seam materialization, shared with `ngram5_logprob_scores`)."""
    p = plans("perplexity_buckets_ngram5")
    assert p.count("Scan parquet") == 0
    assert "Window" in p


def test_cdc_chunks_shuffle_free_and_dedup_keyed_on_digest(plans):
    """The CDC chunk index is one in-array expression over the scan —
    NO exchange of any kind. The dedup form pays exactly the
    paragraph_dedup shape: a digest-keyed winner exchange (chash, never
    raw chunk text) and one doc_id-keyed reassembly.

    VERDICT r7 #2: both consumers must read the compute-once chunk seam
    (localCheckpoint → ExistingRDD scan) — the Rabin-Karp boundary scan,
    the catalog's heaviest repeated computation, is paid ONCE per pass;
    neither consumer plan may re-scan the documents parquet."""
    p = plans("cdc_chunks")
    assert "Exchange" not in p
    assert "Scan ExistingRDD" in p
    assert p.count("Scan parquet") == 0
    pd = plans("cdc_chunk_dedup")
    assert "Exchange hashpartitioning(chash" in pd
    assert "Exchange hashpartitioning(chunk" not in pd
    assert pd.count("Exchange hashpartitioning(doc_id") == 1
    assert "CartesianProduct" not in pd
    assert "Scan ExistingRDD" in pd
    assert pd.count("Scan parquet") == 0


def test_cms_sketch_single_combined_aggregate(spark, sf_dir):
    """The sketch build must be ONE (d, bucket)-keyed exchange with
    map-side partial counts (the D-row fan-out is an in-array explode,
    never a join) — the shape whose reduce side is a constant-size table
    at any corpus size. Audited on the builder: the catalog entry wraps
    it in the compute-once seam (localCheckpoint), which hides the build
    plan behind an ExistingRDD scan."""
    from bread_spark.extensions.sketch import cms_sketch_df
    from bread_spark.io import load_table

    p = physical_plan(
        cms_sketch_df(load_table(spark, sf_dir, "documents").select("text"))
    )
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_count" in p
    assert "Join" not in p


def test_boilerplate_filter_broadcast_anti_no_text_shuffle_key(spark):
    """The boilerplate table is the heavy-hitter tail of the chunk
    frequency distribution — small by construction — so the removal must
    be a BroadcastHashJoin LeftAnti on digests, never a sort-merge; and
    the frequency aggregate must have a map-side partial. Asserted on
    the unmaterialized core — the catalog entry now serves the
    compute-once seam shared with curated_corpus_v2, whose plan is just
    the checkpoint block scan."""
    from bread_spark.extensions.curation import boilerplate_filter_df
    from bread_spark.io import load_table
    from tests.conftest import SF_DIR

    p = physical_plan(
        boilerplate_filter_df(
            load_table(spark, SF_DIR, "documents").select("doc_id", "text")
        )
    )
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p
    assert "partial_count" in p or "partial_min" in p


def test_weighted_sample_topk_pushdown(plans):
    """A-ES sampling must run as a distributed top-k
    (TakeOrderedAndProject), never a global Sort — at scale the operator
    moves k rows, not the corpus."""
    p = plans("weighted_sample_docs")
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p


def test_zipf_and_stratified_sample_window_group_limit(plans):
    """Both per-key top-k windows (Zipf's top-100 head, the stratified
    A-ES k-per-source) must be WindowGroupLimit-pruned — per-partition
    heaps before the exchange, never a full per-key sort materialized."""
    for name in ("zipf_fit_by_source", "weighted_sample_by_source"):
        p = plans(name)
        assert "WindowGroupLimit" in p, name
        assert "SortMergeJoin" not in p, name


def test_hdr_sketch_single_combined_aggregate(spark, sf_dir):
    """The histogram build is ONE bucket-keyed exchange with map-side
    partial counts (bucketing is a pure map expression) — the constant-
    size-reduce shape shared with cms_sketch. Audited on the builder;
    the catalog entry serves the compute-once seam."""
    from bread_spark.extensions.sketch import hdr_sketch_df
    from bread_spark.io import load_table

    p = physical_plan(
        hdr_sketch_df(load_table(spark, sf_dir, "events").select("value"))
    )
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_count" in p
    assert "Join" not in p


def test_nb_scoring_broadcasts_the_bounded_model(spark):
    """The hashing trick bounds the NB model at classes × NB_BUCKETS
    rows at ANY corpus size, so the scoring join must be a
    BroadcastHashJoin on bucket — never a sort-merge (this family has no
    degrade switch because it never needs one), and never a
    CartesianProduct (the prior fan-out is a bounded broadcast
    nested-loop, classes rows per doc). Asserted on the unmaterialized
    build — the catalog entry itself serves the localCheckpointed seam,
    whose plan is just the block scan."""
    from bread_spark.extensions.classify import (
        _tagged_docs,
        nb_lang_model,
        nb_priors_df,
        nb_scores_df,
    )
    from tests.conftest import SF_DIR

    tagged = _tagged_docs(spark, SF_DIR)
    model = nb_lang_model(spark, SF_DIR)
    p = physical_plan(nb_scores_df(tagged, model, nb_priors_df(tagged, model)))
    # the model join: BroadcastHashJoin keyed on bucket
    assert any(
        "BroadcastHashJoin [bucket" in line for line in p.splitlines()
    ), p
    assert "CartesianProduct" not in p
    # the one sort-merge allowed is the doc-keyed LEFT join of the
    # (doc × class) base against the per-(doc, class) sums — both sides
    # O(docs·classes), correctly shuffle-keyed on (doc_id, lang)
    smj = [line for line in p.splitlines() if "SortMergeJoin" in line]
    assert all("doc_id" in line for line in smj), smj


def test_silhouette_broadcasts_centroids(spark):
    """The point-to-centroid fan-out must broadcast the labels × dims
    centroid table (bounded by construction) — never sort-merge the
    per-dimension stream against it, and never a CartesianProduct."""
    from bread_spark.extensions.similarity import silhouette_scores_df
    from bread_spark.io import load_table
    from tests.conftest import SF_DIR

    p = physical_plan(
        silhouette_scores_df(load_table(spark, SF_DIR, "embeddings"))
    )
    assert any(
        "BroadcastHashJoin [pos" in line for line in p.splitlines()
    ), p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_mg_summary_prunes_threshold_and_broadcasts(spark):
    """The Misra-Gries reduction must never sort a full vocabulary: the
    (k+1)-th-value threshold lookup is WindowGroupLimit-pruned (k+1 rows
    per shard survive ahead of the sort) and the vocabulary-scale side
    is a broadcast-join filter against the O(shards)-row threshold table
    — no SortMergeJoin, no CartesianProduct anywhere in the family."""
    from bread_spark.extensions.sketch import mg_summary_df
    from bread_spark.io import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    p = physical_plan(mg_summary_df(docs))
    assert "WindowGroupLimit" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    # every window sits directly above its prune: per-shard thresholds
    # keep k+1 rows via WindowGroupLimit; the single-group final merge
    # compiles to TakeOrderedAndProject(limit=k+1) — a distributed
    # top-k, so only k+1 rows ever reach the rank in either form
    lines = p.splitlines()
    win_idx = [i for i, l in enumerate(lines) if "+- Window [" in l]
    assert win_idx, p
    for i in win_idx:
        below = "\n".join(lines[i + 1 : i + 4])
        assert (
            "WindowGroupLimit" in below or "TakeOrderedAndProject" in below
        ), lines[i : i + 4]


def test_fuzzy_blocking_plan_is_pruned_and_joined(spark):
    """Fuzzy dedup's prefix filter: the per-doc rarest-R rank must be
    WindowGroupLimit-pruned (R rows per doc survive ahead of the sort),
    the hot-gram drop a broadcast anti-join, and nothing anywhere a
    cartesian product — candidates meet only inside gram postings."""
    from bread_spark.extensions.fuzzy import (
        _norm_docs,
        _selected_grams,
        fuzzy_pairs_df,
    )
    from bread_spark.io import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    # r13-opt: fuzzy_pairs_df localCheckpoints the index before the
    # self-join, so the rank/anti-join shape is asserted on the
    # UNMATERIALIZED index builder (the seams convention), while the
    # full entry plan keeps the no-cartesian guarantee.
    idx = physical_plan(_selected_grams(_norm_docs(docs), materialize=False))
    assert "WindowGroupLimit" in idx
    assert "CartesianProduct" not in idx
    assert any(
        "BroadcastHashJoin" in line and "LeftAnti" in line
        for line in idx.splitlines()
    ), idx
    p = physical_plan(fuzzy_pairs_df(docs))
    assert "CartesianProduct" not in p


def test_authority_rank_plan_keyed_joins_only(spark):
    """The PageRank plan: every iteration is keyed joins + keyed
    aggregates — no cartesian product, no nested-loop join anywhere,
    and map-side partial sums on the incoming-mass aggregate."""
    from bread_spark.extensions.graph import doc_authority_rank
    from tests.conftest import SF_DIR

    p = physical_plan(doc_authority_rank(spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_sum" in p


def test_hard_negatives_plan_blocked_no_join(spark):
    """Hard-negative mining: the quadratic stage lives inside the
    grouped-pandas blocks; after it the plan is keyed aggregates only —
    no join of any kind, no cartesian product."""
    from bread_spark.extensions.similarity import hard_negatives
    from tests.conftest import SF_DIR

    p = physical_plan(hard_negatives(spark, SF_DIR))
    assert "FlatMapGroupsInPandas" in p
    assert "Join" not in p
    assert "CartesianProduct" not in p


def test_cusum_windows_over_aggregate_with_broadcast_stats(spark, sf_dir):
    """CUSUM: the only full-data pass is the map-side quantize + one
    keyed daily aggregate with partial sums; baseline stats join back
    as broadcasts; no cartesian. Targets the unmaterialized df core —
    the catalog entry serves the compute-once daily seam (seams
    convention)."""
    from bread_spark.extensions.timeseries import _daily_micro, cusum_df
    from bread_spark.io import load_table

    p = physical_plan(
        cusum_df(_daily_micro(load_table(spark, sf_dir, "events")))
    )
    assert "partial_sum" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_path_trigrams_single_user_exchange(spark, sf_dir):
    """LEAD(1) and LEAD(2) share one window spec: the whole trigram
    derivation must run over a SINGLE user-keyed exchange (one Window
    operator serves every offset), with map-side partial counts on the
    path aggregate."""
    from bread_spark.extensions.paths import path_trigrams_df
    from bread_spark.io import load_table

    p = physical_plan(
        path_trigrams_df(load_table(spark, sf_dir, "events"))
    )
    assert p.count("Exchange hashpartitioning(user_id") == 1
    assert p.count("Window") == 1
    assert "partial_count" in p


def test_covariance_partials_ride_map_side(spark, sf_dir):
    """The d x d moment table: quadratic-in-d work inside the Arrow
    blocks, one keyed aggregate of O(partitions * d^2) partial rows,
    dimension tables joined back as broadcasts — no sort-merge join,
    no cartesian."""
    from bread_spark.extensions.spectral import embedding_covariance

    p = physical_plan(embedding_covariance(spark, sf_dir))
    assert "MapInPandas" in p
    assert "partial_sum" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_psi_and_checksum_plan_shapes(spark, sf_dir):
    """value_psi_by_type: one full-data pass (map-side bucket expr +
    keyed count with partials), reference-day flags and totals joined
    back as broadcasts, no sort-merge join. corpus_checksum_by_source:
    a single rollup aggregate with map-side partials and no join at
    all."""
    from bread_spark.extensions.audit import corpus_checksum_by_source
    from bread_spark.extensions.timeseries import value_psi_by_type

    p = physical_plan(value_psi_by_type(spark, sf_dir))
    assert "partial_sum" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p

    p2 = physical_plan(corpus_checksum_by_source(spark, sf_dir))
    assert "partial_" in p2
    assert "Join" not in p2
    assert "Expand" in p2  # the ROLLUP grouping-sets operator


def test_margin_metric_plans_are_grouped_never_globally_sorted(spark):
    """The r9 metric family must never run a single-reducer window over
    per-doc rows: the AUC cumulative aggregates per distinct margin
    FIRST, partitions its fine window by the coarse stripe, and takes
    cross-stripe offsets from a broadcast of the stripe-total table; the
    calibration rank is n_below + a row_number partitioned BY margin.
    The PR curve is one conditional aggregate + stack — no join, no
    window at all."""
    from bread_spark.extensions.classify import (
        calibration_bins_df,
        margin_auc_df,
        pr_curve_df,
    )

    rows = spark.createDataFrame(
        [(i, i % 2, i * 7) for i in range(64)],
        "doc_id long, is_correct int, margin_u long",
    )
    auc = physical_plan(margin_auc_df(rows))
    assert "CartesianProduct" not in auc
    assert "SortMergeJoin" not in auc
    # fine cumulative window partitioned by stripe, offsets broadcast
    assert "windowspecdefinition(stripe" in auc
    assert "BroadcastHashJoin [stripe" in auc

    cal = physical_plan(calibration_bins_df(rows))
    assert "CartesianProduct" not in cal
    # the intra-tie ordinal partitions by margin_u — the only row_number
    assert "row_number() windowspecdefinition(margin_u" in cal
    # any sort-merge must be the margin_u-keyed rows<->cum join
    smj = [line for line in cal.splitlines() if "SortMergeJoin" in line]
    assert all("margin_u" in line for line in smj), smj

    pr = physical_plan(pr_curve_df(rows))
    assert "Window" not in pr
    assert "Join" not in pr
    assert "partial_sum" in pr  # map-side combine feeds the one row


def test_table_profile_distinct_expands_before_exchange(plans):
    """The profiler's only wide stage must partial-aggregate on
    (table, column, canon) BEFORE the shuffle — the distinct expand is
    what keeps the 17-value group key from hot-spotting — and the whole
    profile is scans + one union, never a join."""
    p = plans("table_profile")
    assert "partial_count(distinct" in p
    assert "hashpartitioning(table_name" in p
    assert "canon" in p.split("Exchange hashpartitioning")[1]
    assert "Join" not in p
    assert "Union" in p


def test_constraint_checks_joins_are_keyed(plans):
    """The expectation suite's only joins are the two FK probes — each
    keyed (broadcast or hash) on the FK column; scan-type checks share
    per-table multi-aggregate passes (map-side partials present)."""
    p = plans("constraint_checks")
    assert p.count("Join") <= 4  # 2 FK joins; strategy is size-decided
    assert "partial_count" in p or "partial_sum" in p


def test_pmi_collocations_take_ordered_not_global_sort(plans):
    """The top-100 must be a distributed TakeOrderedAndProject over the
    keyed-join result — no global Sort materializes, no cartesian; the
    only condition-free join is the broadcast of the 1-row corpus
    total."""
    p = plans("pmi_collocations")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # the 1-row total, nothing else
    assert p.count("BroadcastNestedLoopJoin") == 1


def test_r9_second_wave_plans_are_keyed_and_partial_aggregated(plans):
    """The five remaining second-wave entries: every join keyed
    (broadcast or hash/sort-merge — never nested-loop, never
    cartesian), map-side partials present; the OOV probe's one join is
    the bounded-by-construction vocab broadcast, and the histogram is
    join-free."""
    for name in [
        "doc_label_propagation",
        "oov_rate_by_source",
        "doc_length_histogram",
        "source_similarity_matrix",
        "doc_novelty_scores",
    ]:
        p = plans(name)
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "CartesianProduct" not in p, name
        assert "partial_" in p, name
    assert plans("oov_rate_by_source").count("BroadcastHashJoin") == 1
    assert "Join" not in plans("doc_length_histogram")


def test_curriculum_distributed_has_no_window(plans):
    """The distributed curriculum twin must rank without any Window
    operator: its visible plan is exactly the Arrow two-pass ordinal
    over the checkpointed range layout (localCheckpoint truncates the
    upstream lineage, so the range exchange and the stage member live
    behind the ExistingRDD scan). The ranking window exists only in
    the oracle-gate form."""
    p = plans("curriculum_order_distributed")
    assert "Window" not in p
    assert "MapInPandas" in p
    assert "Scan ExistingRDD" in p


def test_stats_family_plans_are_keyed_and_partial_aggregated(plans):
    """The r9 stats wave: Benford and the concentration report are
    join-free single-aggregate plans with map-side partials; the
    correlation matrix self-joins day-keyed AGGREGATES (hash or
    sort-merge — never nested-loop); the rolling-distinct fan-out joins
    equi on the anchor day. Nothing cartesian anywhere (the catalog-
    wide test re-proves that, this pins the join kinds)."""
    for name in [
        "value_trend_by_type",
        "type_correlation_matrix",
        "benford_digit_qc",
        "source_concentration",
        "rolling_7d_distinct_users",
    ]:
        p = plans(name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "partial_" in p, name
    assert "Join" not in plans("benford_digit_qc")
    assert "Join" not in plans("source_concentration")
    # correlation join keyed on the renamed day columns, post-aggregation
    pc = plans("type_correlation_matrix")
    assert "SortMergeJoin" in pc or "ShuffledHashJoin" in pc or "BroadcastHashJoin" in pc
    # rolling: explode fan-out present; since the r13 min-offset rework
    # the per-day restriction is the users_1d > 0 conditional count, so
    # the plan is JOIN-free (was: one keyed equi join with the day table)
    pr = plans("rolling_7d_distinct_users")
    assert "Generate explode" in pr
    assert "Join" not in pr
    assert "users_1d" in pr


def test_behavior_and_rank_plans_are_join_free(plans):
    """time_to_conversion: one conditional aggregate to O(users), one
    fold — no joins. inter_event_gap_stats: ONE user×type window
    exchange, then one aggregate — no joins. quality_rank_by_source:
    map-side token counts + ONE per-source ranking window — no joins,
    no global sort above the window."""
    for name in [
        "time_to_conversion",
        "inter_event_gap_stats",
        "quality_rank_by_source",
    ]:
        p = plans(name)
        assert "Join" not in p, name
        assert "CartesianProduct" not in p, name
        assert "partial_" in p or "Window" in p, name
    assert "Window" in plans("inter_event_gap_stats")
    assert "Window" in plans("quality_rank_by_source")


def test_scd2_and_triangle_plans(plans):
    """scd2_user_state: ONE user-keyed window, join-free. The triangle
    census: wedge join and closing check are KEYED (hash/sort-merge
    equi joins + one LeftSemi) — never nested-loop, never cartesian."""
    p = plans("scd2_user_state")
    assert "Window" in p
    assert "Join" not in p
    t = plans("provenance_triangles")
    assert "CartesianProduct" not in t
    assert "BroadcastNestedLoopJoin" not in t
    assert "LeftSemi" in t


def test_positional_search_plans_are_filtered_and_keyed(plans):
    """The probe-word filter must land before the join (only probe
    postings shuffle), the adjacency join must be keyed equi (offset
    fan-out, no range/nested-loop), nothing cartesian."""
    for name in ["phrase_search", "proximity_search"]:
        p = plans(name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "Generate explode" in p, name  # bounded offset fan-out
        assert "posexplode" in p, name


def test_daily_family_plans(plans):
    """Percentile bands and the count table are join-free single
    aggregates with map-side partials (the share window runs over the
    aggregate); new-vs-returning joins the two O(users)-scale tables
    user-keyed — no nested loop, no cartesian."""
    for name in [
        "daily_value_percentiles",
        "type_share_by_day",
        "new_vs_returning_users",
    ]:
        p = plans(name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "partial_" in p, name
    assert "Join" not in plans("daily_value_percentiles")
    assert "Join" not in plans("type_share_by_day")


def test_late_shipment_join_is_keyed_with_partials(plans):
    p = plans("late_shipment_rate_by_priority")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_" in p


# ---------------------------------------------------------------------------
# Warehouse decision-support suite (r10)
# ---------------------------------------------------------------------------

WAREHOUSE_QUERIES = [
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
]


def test_warehouse_no_nested_loop_anywhere(plans):
    """The suite's EXISTS/NOT-EXISTS and scalar thresholds must stay
    hash joins — a constant-key 'scalar join' constant-folds into a
    BroadcastNestedLoopJoin, which this pin rejects (the Q22 core uses
    the bounded 1-row collect instead)."""
    for name in WAREHOUSE_QUERIES:
        assert "BroadcastNestedLoopJoin" not in plans(name), name


def test_warehouse_date_filters_push_to_parquet(plans):
    """Ship/order-date windows are written as direct timestamp-range
    predicates so they reach the parquet reader as row-group pruning —
    a CAST(col AS DATE) or year(col) spelling would scan everything."""
    for name, col, frag in [
        ("discount_revenue_opportunity", "l_shipdate", "GreaterThanOrEqual"),
        ("top_supplier_by_revenue", "l_shipdate", "GreaterThanOrEqual"),
        ("shipping_priority_topk", "o_orderdate", "LessThan"),
        ("promo_revenue_by_month", "l_shipdate", "GreaterThanOrEqual"),
    ]:
        p = plans(name)
        assert f"{frag}({col}" in p, (name, col, frag)


def test_warehouse_topk_is_take_ordered(plans):
    """Every suite top-k is a distributed TakeOrderedAndProject — never
    a global sort of the aggregate."""
    for name in (
        "shipping_priority_topk",
        "large_volume_customers",
        "late_supplier_blame",
    ):
        p = plans(name)
        assert "TakeOrderedAndProject" in p, name


def test_late_supplier_blame_semi_anti_shapes(plans):
    """r13-opt decorrelated Q21: the former EXISTS/NOT-EXISTS join pair
    (which re-ran the li⋈orders subtree three times) is now two
    collect_set window counts over the orderkey partitioning the join
    already established — so the plan must carry exactly ONE fact-fact
    join, the supplier-set windows, and no semi/anti join re-probes."""
    p = plans("late_supplier_blame")
    assert "collect_set" in p
    assert "LeftSemi" not in p
    assert "LeftAnti" not in p
    assert "CartesianProduct" not in p
    n_fact_joins = sum(
        p.count(j) for j in ("SortMergeJoin", "ShuffledHashJoin")
    )
    assert n_fact_joins <= 1, p


def test_warehouse_dimension_joins_broadcast(plans):
    """part/supplier/nation/region dimension sides broadcast (the Q5
    precedent); the fact-fact joins stay keyed shuffles."""
    for name in (
        "market_share_by_year",
        "promo_revenue_by_month",
        "product_profit_by_nation_year",
        "volume_shipping_by_year",
    ):
        assert "BroadcastHashJoin" in plans(name), name


def test_basket_pairs_keyed_and_take_ordered(plans):
    """Pair generation is an orderkey-keyed join (bounded in-order
    fan-out, never a part-space cross product) and both top-ks are
    distributed TakeOrderedAndProject."""
    for name in ("copurchase_pairs", "association_rules"):
        p = plans(name)
        assert "TakeOrderedAndProject" in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_search_rank_fusion_bounded_windows_and_take_ordered(plans):
    """Each member ranker cuts to its top-n FIRST (TakeOrdered over the
    checkpointed multi-score frame); r14: the three per-ranker
    single-partition row_number windows collapsed into ONE tagged
    window pass over the <=3*top_n-row union (3 -> 1 window exchanges),
    and the fused top-k stays a TakeOrdered."""
    p = plans("search_rank_fusion")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    import re

    assert len(re.findall(r"\bWindow \[", p)) == 1, "expected ONE window node"


def test_phash_candidates_banded_join(spark, sf_dir):
    """Perceptual near-dup candidates meet ONLY inside (band_idx,
    band_value) buckets: the self-join is keyed (hash/sort-merge on the
    exploded band rows), never a nested-loop/cartesian all-pairs stage
    (VERDICT r10 #5's banded-candidates pin). Targets the
    unmaterialized pair core (seams convention — the catalog entry
    reads the checkpointed `phash_pair_frame`)."""
    from bread_spark.extensions.multimodal import (
        media_from_documents,
        media_phash_features,
        phash_candidate_pairs,
    )

    p = physical_plan(
        phash_candidate_pairs(
            media_phash_features(media_from_documents(spark, sf_dir))
        )
    )
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "Generate" in p  # posexplode of the band array feeds the join


def test_forecast_plans_keyed_no_window(plans):
    """The EWMA is the bounded fan-out, not a window over an unbounded
    frame; the backtest is one keyed self-join of the daily seam."""
    p = plans("ewma_daily_value_by_type")
    assert "Window" not in p
    assert "CartesianProduct" not in p
    p2 = plans("seasonal_naive_error_by_type")
    assert "CartesianProduct" not in p2
    assert "BroadcastNestedLoopJoin" not in p2


def test_ltv_and_snippets_plan_shapes(plans):
    """Cohorts: two custkey-keyed aggregates, no nested loop. Cadence:
    ONE custkey window exchange. Snippets: pure map-side projection —
    no explode-join, no Join at all; TakeOrdered for the cut."""
    for name in ("revenue_cohorts", "order_interarrival_stats"):
        p = plans(name)
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "CartesianProduct" not in p, name
    p = plans("search_snippets")
    assert "Join" not in p
    assert "TakeOrderedAndProject" in p


def test_basket_pair_core_is_keyed_join(spark, sf_dir):
    """The unmaterialized pair core (seams convention: pins target the
    core, the entries read the checkpointed seam): one orderkey-keyed
    join, no nested loop, map-side partial counts."""
    from bread_spark.extensions.basket import order_part_df, pair_counts_df
    from bread_spark.io import load_table

    p = physical_plan(
        pair_counts_df(order_part_df(load_table(spark, sf_dir, "lineitem")))
    )
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "partial_count" in p or "partial_" in p


def test_doc_dup_saturation_keyed_no_pairs(plans):
    """The memorization-risk profile is df-aggregate + one shingle-keyed
    join + one doc-keyed aggregate — never a self-join pair stage or a
    cartesian (r12). The df table and the shingle index both ride keyed
    shuffles, so the plan is linear in corpus size at 100 TB."""
    p = plans("doc_dup_saturation")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_phash_gate_inline_verify_is_banded(spark, sf_dir):
    """The ingest gate's exact verify joins incoming and base
    fingerprints keyed on (band_idx, band_val) — a hash/sort-merge
    equi-join, never all-pairs — and the final media-grain drop is a
    left-anti equi-join (ADVICE r11 medium: the verify moved inline,
    and it must not have become a cartesian to do it)."""
    from bread_spark.extensions.multimodal import (
        media_from_documents,
        media_phash_features,
        phash_gate,
    )

    media = media_from_documents(spark, sf_dir)
    p = physical_plan(phash_gate(media, media_phash_features(media)))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "LeftAnti" in p
