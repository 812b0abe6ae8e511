"""Training-data operators: packing invariants + sampling/shuffle
semantics (the oracle-checked ops are also covered by test_oracle.py's
parametrized differential sweep)."""

from __future__ import annotations

import pytest

from bread_spark.extensions import training
from bread_spark.extensions.training import PACK_BUDGET, PROBE_MAX_DOC_ID
from bread_spark.queries import QUERIES
from tests.conftest import SF_DIR


def test_pack_sequences_invariants(spark):
    rows = QUERIES["pack_sequences"](spark, SF_DIR).collect()
    docs = QUERIES["token_stats"](spark, SF_DIR).count()

    # exactly-once membership: every document packed once
    assert len(rows) == docs
    assert len({r["doc_id"] for r in rows}) == docs

    packs: dict[int, list] = {}
    for r in rows:
        packs.setdefault(r["pack_id"], []).append(r)
    for pid, members in packs.items():
        total = sum(m["n_tokens"] for m in members)
        # budget respected, except a single over-budget doc in its own pack
        assert total <= PACK_BUDGET or len(members) == 1, pid
        # a pack never mixes buckets
        assert len({m["bucket"] for m in members}) == 1

    # greedy order: within a bucket, pack ids are monotone in doc_id
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r)
    for b, members in by_bucket.items():
        members.sort(key=lambda r: r["doc_id"])
        pids = [m["pack_id"] for m in members]
        assert pids == sorted(pids), b


def test_pack_sequences_deterministic(spark):
    a = sorted(map(tuple, QUERIES["pack_sequences"](spark, SF_DIR).collect()))
    b = sorted(map(tuple, QUERIES["pack_sequences"](spark, SF_DIR).collect()))
    assert a == b


def test_stratified_sample_downsamples_dominant_lang(spark):
    full = QUERIES["lang_id_scores"](spark, SF_DIR).count()
    sample = QUERIES["stratified_sample"](spark, SF_DIR).collect()
    assert 0 < len(sample) < full
    # en keeps ~25%, others ~75% — assert the ordering of realized rates
    from collections import Counter

    kept = Counter(r["lang"] for r in sample)
    docs = QUERIES["stratified_sample"](spark, SF_DIR).sparkSession.read.parquet(
        f"{SF_DIR}/documents.parquet"
    )
    total = Counter(r["lang"] for r in docs.select("lang").collect())
    en_rate = kept.get("en", 0) / total["en"]
    other_kept = sum(v for k, v in kept.items() if k != "en")
    other_total = sum(v for k, v in total.items() if k != "en")
    assert en_rate < other_kept / other_total


def test_shuffle_order_is_permutation(spark):
    rows = QUERIES["shuffle_order"](spark, SF_DIR).collect()
    ranks = sorted(r["shuffle_rank"] for r in rows)
    assert ranks == list(range(1, len(rows) + 1))
    # seeded → stable across runs
    again = QUERIES["shuffle_order"](spark, SF_DIR).collect()
    assert {r["doc_id"]: r["shuffle_rank"] for r in rows} == {
        r["doc_id"]: r["shuffle_rank"] for r in again
    }


def test_shuffle_order_distributed_matches_window_variant(spark):
    """The repartitionByRange + two-pass-offset plan must produce the
    EXACT permutation of the single-window shuffle_order — the 100 TB
    path is value-identical, not approximately shuffled."""
    window = {
        r["doc_id"]: r["shuffle_rank"]
        for r in QUERIES["shuffle_order"](spark, SF_DIR).collect()
    }
    distributed = {
        r["doc_id"]: r["shuffle_rank"]
        for r in QUERIES["shuffle_order_distributed"](spark, SF_DIR).collect()
    }
    assert distributed == window
    # also under a partition count that forces many non-empty ranges
    from bread_spark.extensions.training import shuffle_order_distributed

    coarse = {
        r["doc_id"]: r["shuffle_rank"]
        for r in shuffle_order_distributed(spark, SF_DIR, num_partitions=7).collect()
    }
    assert coarse == window


def test_decontaminate_probe_excluded_and_bounded(spark):
    rows = QUERIES["decontaminate"](spark, SF_DIR).collect()
    assert all(r["doc_id"] >= PROBE_MAX_DOC_ID for r in rows)
    for r in rows:
        assert 0.0 <= r["overlap_frac"] <= 1.0
        assert r["n_overlap"] <= r["n_shingles"]


def test_training_corpus_curation_invariants(spark):
    """The end-to-end composite must honor every member filter: no probe
    docs, no contaminated docs, only exact-dedup canonicals, only docs at
    or above the corpus quality threshold, and per-language sample rates
    matching stratified_sample's cutoffs."""
    from pyspark.sql import functions as F

    from bread_spark.extensions.dedup import dedup_exact_hash
    from bread_spark.extensions.training import training_corpus, decontaminate

    corpus = training_corpus(spark, SF_DIR)
    rows = corpus.collect()
    kept = {r["doc_id"] for r in rows}
    assert kept, "composite should keep a non-trivial corpus"

    # probe docs never survive
    assert all(d >= PROBE_MAX_DOC_ID for d in kept)

    # contaminated docs never survive
    bad = {
        r["doc_id"]
        for r in decontaminate(spark, SF_DIR).filter("contaminated").collect()
    }
    assert not (kept & bad)

    # only exact-dedup canonical doc_ids survive
    canon = {
        r["canonical_doc_id"] for r in dedup_exact_hash(spark, SF_DIR).collect()
    }
    assert kept <= canon

    # survivors are a subset of the stratified sample's keep set
    strat = {r["doc_id"] for r in QUERIES["stratified_sample"](spark, SF_DIR).collect()}
    assert kept <= strat

    # survivors meet the adaptive quality threshold computed on the FULL corpus
    scored = QUERIES["quality_scores"](spark, SF_DIR)
    th = scored.agg(F.expr("percentile(alpha_ratio, 0.25)").alias("t")).collect()[0]["t"]
    above = {r["doc_id"] for r in scored.filter(F.col("alpha_ratio") >= th).collect()}
    assert kept <= above


def test_quality_filter_threshold_is_adaptive(spark):
    """quality_filter keeps exactly the docs at/above the corpus
    percentile thresholds — recomputed here independently."""
    from pyspark.sql import functions as F

    from bread_spark.functions.text import QF_ALPHA_PCT, QF_STOP_PCT, quality_filter

    scored = QUERIES["quality_scores"](spark, SF_DIR)
    t = scored.agg(
        F.expr(f"percentile(alpha_ratio, {QF_ALPHA_PCT})").alias("a"),
        F.expr(f"percentile(stopword_ratio, {QF_STOP_PCT})").alias("s"),
    ).collect()[0]
    expected = {
        r["doc_id"]
        for r in scored.filter(
            (F.col("alpha_ratio") >= t["a"]) & (F.col("stopword_ratio") >= t["s"])
        ).collect()
    }
    got = {r["doc_id"] for r in quality_filter(spark, SF_DIR).collect()}
    assert got == expected
    assert 0 < len(got) < scored.count()  # filters something, keeps something


def test_deduped_corpus_is_canonical_cover(spark):
    """deduped_corpus = exactly the canonical (min doc_id) member of every
    near-dup cluster, with cluster sizes summing to the full corpus."""
    from bread_spark.extensions.dedup import dedup_clusters, deduped_corpus

    clusters = dedup_clusters(spark, SF_DIR).collect()
    canonical = {r["doc_id"] for r in clusters if r["is_canonical"]}
    survivors = deduped_corpus(spark, SF_DIR).collect()
    assert {r["doc_id"] for r in survivors} == canonical
    assert sum(r["cluster_size"] for r in survivors) == len(clusters)
    assert all(r["n_dups_removed"] == r["cluster_size"] - 1 for r in survivors)


def test_training_corpus_neardup_subsets_and_removes_neardups(spark):
    """The near-dup-complete composite is a subset of training_corpus
    that contains no two docs from the same jaccard cluster."""
    from bread_spark.extensions.dedup import dedup_clusters
    from bread_spark.extensions.training import (
        training_corpus,
        training_corpus_neardup,
    )

    base = {r["doc_id"] for r in training_corpus(spark, SF_DIR).collect()}
    full = {r["doc_id"] for r in training_corpus_neardup(spark, SF_DIR).collect()}
    assert full <= base

    cluster_of = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(spark, SF_DIR).collect()
    }
    seen = {}
    for d in full:
        c = cluster_of[d]
        assert c not in seen, f"docs {seen[c]} and {d} share cluster {c}"
        seen[c] = d
    # docs dropped relative to base are exactly the non-canonical members
    assert base - full == {d for d in base if cluster_of[d] != d}


def test_decontaminate_bloom_recall_and_default_sizing(spark):
    """Bloom-filter decontamination: recall 1.0 vs the exact path always
    (no false negatives by construction), and at the default m = 2^17 the
    test corpus has zero false positives — bit-identical output."""
    exact = {r["doc_id"]: r for r in training.decontaminate(spark, SF_DIR).collect()}
    bloom = {
        r["doc_id"]: r for r in training.decontaminate_bloom(spark, SF_DIR).collect()
    }
    assert set(exact) == set(bloom)
    for d in exact:
        assert bloom[d]["n_overlap"] >= exact[d]["n_overlap"]  # recall 1.0
        assert bloom[d]["n_overlap"] == exact[d]["n_overlap"]  # default sizing
        assert bloom[d]["contaminated"] == exact[d]["contaminated"]


def test_decontaminate_bloom_undersized_is_superset_never_subset(spark):
    """Starve the filter (m = 256 bits) to force false positives: overlap
    counts may only grow, flags may only be added — the one-sided error
    contract that makes the bloom path safe to over-filter with."""
    exact = {r["doc_id"]: r for r in training.decontaminate(spark, SF_DIR).collect()}
    bloom = {
        r["doc_id"]: r
        for r in training.decontaminate_bloom(spark, SF_DIR, m_bits=256).collect()
    }
    assert set(exact) == set(bloom)
    fps = 0
    for d in exact:
        assert bloom[d]["n_overlap"] >= exact[d]["n_overlap"]
        if exact[d]["contaminated"]:
            assert bloom[d]["contaminated"]
        fps += bloom[d]["n_overlap"] - exact[d]["n_overlap"]
    assert fps > 0  # 256 bits for ~10k shingles MUST false-positive


# ---------------------------------------------------------------------------
# dataset_splits
# ---------------------------------------------------------------------------


def test_dataset_splits_partition_and_leakage(spark, sf_dir):
    """Every document lands in exactly one split; byte-identical texts
    always share a split (content-keyed → no exact-dup leakage across
    train/test); fractions approximate 90/5/5."""
    from pyspark.sql import functions as F

    from bread_spark.functions.text import dataset_splits
    from bread_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = dataset_splits(spark, sf_dir)
    assert out.count() == docs.count()
    assert set(r["split"] for r in out.select("split").distinct().collect()) <= {
        "train", "val", "test"
    }
    # identical texts → identical buckets → identical split
    leaks = (
        docs.select("doc_id", "text")
        .join(out.select("doc_id", "split"), "doc_id")
        .groupBy("text")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert leaks == 0
    # ~90/5/5 with generous slack for small corpora (500 docs at sf0.001)
    frac = {
        r["split"]: r["n"] for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = sum(frac.values())
    assert frac.get("train", 0) / total > 0.8
    assert frac.get("val", 0) / total < 0.12
    assert frac.get("test", 0) / total < 0.12


def test_importance_sample_weighted_keep(spark):
    """Quality-weighted sampling contract: deterministic across runs, a
    subset of the corpus, and the keep RATE rises with the weight — the
    top weight tercile must keep a strictly higher fraction than the
    bottom tercile (probabilities are proportional to weight)."""
    from bread_spark.functions.text import importance_sample, quality_scores

    kept1 = {r["doc_id"] for r in importance_sample(spark, SF_DIR).collect()}
    kept2 = {r["doc_id"] for r in importance_sample(spark, SF_DIR).collect()}
    assert kept1 == kept2

    weights = {
        r["doc_id"]: r["alpha_ratio"]
        for r in quality_scores(spark, SF_DIR).collect()
    }
    assert kept1 <= set(weights)
    ranked = sorted(weights, key=weights.get)
    third = len(ranked) // 3
    lo, hi = ranked[:third], ranked[-third:]
    lo_rate = len(kept1 & set(lo)) / len(lo)
    hi_rate = len(kept1 & set(hi)) / len(hi)
    assert hi_rate > lo_rate


def _reference_bpe(word_counts, n_merges):
    """Single-process reference BPE trainer (Sennrich et al. 2016 shape):
    greedy most-frequent adjacent pair, lexicographic (a, b) tie-break,
    left-to-right non-overlapping merge application."""

    def merge_word(t, a, b):
        out, i = [], 0
        while i < len(t):
            if i < len(t) - 1 and t[i] == a and t[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(t[i])
                i += 1
        return out

    vocab = {tuple(w): c for w, c in word_counts.items()}
    merges = []
    for rank in range(n_merges):
        pairs = {}
        for t, c in vocab.items():
            for a, b in zip(t, t[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        top = max(pairs.values())
        # Spark side orders by the "a b" joined string — match that
        best = min((p for p, n in pairs.items() if n == top),
                   key=lambda p: f"{p[0]} {p[1]}")
        if pairs[best] < 2:
            break
        a, b = best
        merges.append((rank, a, b, a + b, pairs[best]))
        agg = {}
        for t, c in vocab.items():
            m = tuple(merge_word(list(t), a, b))
            agg[m] = agg.get(m, 0) + c
        vocab = agg
    return merges


def test_bpe_merges_match_reference(spark, tmp_path):
    """The distributed BPE trainer must learn the exact merge sequence
    the single-process reference learns on a hand-built corpus with
    known structure (including an overlap case: 'aaaa' merges leftmost
    first) and on frequency ties broken lexicographically."""
    from bread_spark.extensions.training import bpe_merges

    texts = [
        "low low low lower lower newest newest newest newest widest",
        "widest widest newest aaaa aaaa",
    ]
    rows = [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    got = [
        (r["merge_rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_merges(spark, str(tmp_path), n_merges=8).collect()
    ]

    wc = {}
    for t in texts:
        for w in t.split(" "):
            wc[w] = wc.get(w, 0) + 1
    want = _reference_bpe(wc, 8)
    assert got == want
    # sanity on the known corpus: 'e s' / 'es t' chain from newest/widest
    # dominates and the aaaa doubling merges leftmost-first
    assert any(m[3] == "es" or m[3] == "st" for m in want)


def test_bpe_merges_runs_on_corpus(spark):
    """Smoke at SF_DIR: ranks are contiguous, counts non-increasing is
    NOT required (a merge can create a more frequent pair), but every
    count ≥ 2 and merged == left+right."""
    from bread_spark.extensions.training import bpe_merges

    rows = bpe_merges(spark, SF_DIR, n_merges=5).collect()
    assert [r["merge_rank"] for r in rows] == list(range(len(rows)))
    for r in rows:
        assert r["merged"] == r["left"] + r["right"]
        assert r["pair_count"] >= 2


def test_bpe_token_counts_conserve_mass_and_merge(spark, tmp_path):
    """Applying the learned merges must conserve character mass (every
    subword token's chars × its count sums to the corpus character count
    of non-space text) and actually produce multi-char tokens; totals
    match a reference application of the same merges."""
    from bread_spark.extensions.training import bpe_merges, bpe_token_counts

    texts = [
        "low low low lower lower newest newest newest newest widest",
        "widest widest newest aaaa aaaa",
    ]
    rows = [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)

    counts = {r["token"]: r["n"] for r in bpe_token_counts(spark, sf, n_merges=8).collect()}
    assert any(len(t) > 1 for t in counts)  # merges actually applied

    total_chars = sum(len(w) for t in texts for w in t.split(" ") if w)
    assert sum(len(t) * n for t, n in counts.items()) == total_chars

    # reference: re-learn with the reference trainer, apply by list walk
    wc = {}
    for t in texts:
        for w in t.split(" "):
            wc[w] = wc.get(w, 0) + 1
    merges = [(m[1], m[2]) for m in _reference_bpe(wc, 8)]
    ref = {}
    for w, c in wc.items():
        t = list(w)
        for a, b in merges:
            out, i = [], 0
            while i < len(t):
                if i < len(t) - 1 and t[i] == a and t[i + 1] == b:
                    out.append(a + b); i += 2
                else:
                    out.append(t[i]); i += 1
            t = out
        for tok in t:
            ref[tok] = ref.get(tok, 0) + c
    assert counts == ref


@pytest.mark.nightly  # edge-alphabet variant; default tier keeps the reference-implementation pin (r9 tier split)
def test_bpe_merges_literal_space_boundary_with_tab_symbols(spark, tmp_path):
    """Regression: symbols may contain tabs/newlines (words split on ' '
    only), so merge boundaries must be LITERAL spaces — a \\s boundary
    falsely splits a tab-containing symbol and merges across token
    boundaries. Corpus reproduces the reviewed divergence: after merging
    ('\\t','a'), the word 'c\\tab' holds symbol '\\ta'; merging ('a','b')
    must NOT fire inside it."""
    from bread_spark.extensions.training import bpe_merges

    texts = ["\ta \ta \ta \ta \ta ab ab ab ab", "c\tab c\tab c\tab"]
    rows = [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    got = [
        (r["merge_rank"], r["left"], r["right"], r["pair_count"])
        for r in bpe_merges(spark, str(tmp_path), n_merges=4).collect()
    ]
    wc = {}
    for t in texts:
        for w in t.split(" "):
            if w:
                wc[w] = wc.get(w, 0) + 1
    want = [(m[0], m[1], m[2], m[4]) for m in _reference_bpe(wc, 4)]
    assert got == want
    assert ("\ta", "b") in {(m[1], m[2]) for m in got}  # the case \s gets wrong


def test_weighted_sample_docs_exact_k_and_length_biased(spark):
    """A-ES weighted sampling: exactly K distinct docs, all with mass,
    and the token-weighted draw overrepresents long documents — the
    sample's mean length exceeds the corpus mean (deterministic given
    the fixed seed, so pinned as an exact contract, not a statistic)."""
    from bread_spark.functions.text import WRS_K, weighted_sample_docs
    from bread_spark.io import load_table
    from tests.conftest import SF_DIR
    from pyspark.sql import functions as F

    rows = weighted_sample_docs(spark, SF_DIR).collect()
    assert len(rows) == WRS_K
    assert len({r["doc_id"] for r in rows}) == WRS_K  # without replacement
    assert all(r["n_tokens"] > 0 for r in rows)

    docs = load_table(spark, SF_DIR, "documents")
    corpus_mean = docs.select(
        F.avg(F.size(F.filter(F.split("text", " "), lambda t: t != "")))
    ).collect()[0][0]
    sample_mean = sum(r["n_tokens"] for r in rows) / len(rows)
    assert sample_mean > corpus_mean


def test_split_leakage_is_structurally_zero_and_detects_id_keyed_splits(spark):
    """The auditor reports zero leaked digests for the content-keyed
    split (exact twins share a digest, hence a split); and the metric
    genuinely detects leakage: assigning the SAME duplicated text to two
    different splits yields a nonzero count under the same aggregate."""
    from pyspark.sql import functions as F

    from bread_spark.functions.text import split_leakage_report
    from tests.conftest import SF_DIR

    rows = split_leakage_report(spark, SF_DIR).collect()
    assert {r["split"] for r in rows} == {"train", "val", "test"}
    assert all(r["n_leaked_digests"] == 0 for r in rows)
    assert all(r["n_docs"] >= r["n_distinct_texts"] >= 1 for r in rows)

    # the detector itself: an id-keyed split over duplicated content
    bad = spark.createDataFrame(
        [
            {"digest": "d1", "split": "train"},
            {"digest": "d1", "split": "test"},  # twin straddles → leak
            {"digest": "d2", "split": "train"},
        ]
    )
    leaked = (
        bad.groupBy("digest")
        .agg(F.countDistinct("split").alias("n_splits"))
        .agg(F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0)).alias("n"))
        .collect()[0]["n"]
    )
    assert leaked == 1


def test_pack_efficiency_partitions_and_flags_oversize(spark):
    """The efficiency report must conserve the packing exactly: every
    pack accounted once, doc and token sums equal to the assignment's,
    fill ≤ 1 for every multi-doc pack (only an oversized single doc may
    exceed the budget — the greedy rule's own-pack case)."""
    from bread_spark.extensions.training import (
        PACK_BUDGET,
        pack_efficiency,
        pack_sequences,
    )
    from tests.conftest import SF_DIR

    packed = pack_sequences(spark, SF_DIR).collect()
    eff = pack_efficiency(spark, SF_DIR).collect()
    assert {r["pack_id"] for r in eff} == {r["pack_id"] for r in packed}
    assert sum(r["n_docs"] for r in eff) == len(packed)
    assert sum(r["n_tokens"] for r in eff) == sum(r["n_tokens"] for r in packed)
    # Spark/DuckDB round HALF-UP; Python rounds half-even — a pack of
    # 232/256 tokens is a real tie (0.90625), so mirror half-up here
    from decimal import ROUND_HALF_UP, Decimal

    def half_up4(x):
        return float(Decimal(x).quantize(Decimal("0.0001"), ROUND_HALF_UP))

    for r in eff:
        if r["n_docs"] > 1:
            assert r["n_tokens"] <= PACK_BUDGET, r
        assert r["fill_frac"] == half_up4(Decimal(r["n_tokens"]) / PACK_BUDGET)
