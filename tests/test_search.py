"""Property tests for the BM25 search operator, the trigram LM, and the
Gopher fixed-rule quality gate (their oracle differentials run in
test_oracle.py; these pin the semantics on controlled inputs)."""

from __future__ import annotations

import math

import pytest

from bread_spark.extensions.search import (
    BM25_B,
    BM25_K1,
    bm25_search_df,
)


def _mkdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_hand_computed_score(spark):
    """Two docs, one query term — the score must equal the textbook
    formula evaluated by hand."""
    docs = _mkdocs(
        spark,
        [
            (1, "spark spark spark other other"),  # tf=3, dl=5
            (2, "spark other other other other other other"),  # tf=1, dl=7
        ],
    )
    out = {
        r["doc_id"]: r["score"]
        for r in bm25_search_df(docs, ["spark"], top_n=10).collect()
    }
    n_docs, avgdl = 2, 6.0
    df_t = 2
    idf = math.log((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)

    def s(tf, dl):
        return round(
            idf * (tf * (BM25_K1 + 1)) / (tf + BM25_K1 * (1 - BM25_B + BM25_B * dl / avgdl)),
            4,
        )

    assert out[1] == pytest.approx(s(3, 5))
    assert out[2] == pytest.approx(s(1, 7))
    assert out[1] > out[2]  # higher tf, shorter doc → higher score


def test_bm25_rare_term_outweighs_common(spark):
    """A doc matching only the rare term must outrank a doc matching only
    the ubiquitous term (idf discrimination)."""
    rows = [(i, "common filler filler") for i in range(1, 9)]
    rows += [(9, "rare filler filler")]
    docs = _mkdocs(spark, rows)
    out = {
        r["doc_id"]: r["score"]
        for r in bm25_search_df(docs, ["common", "rare"], top_n=20).collect()
    }
    assert out[9] > out[1]


def test_bm25_only_matching_docs_and_top_n(spark):
    docs = _mkdocs(
        spark,
        [(i, "spark hit" if i % 2 == 0 else "miss miss") for i in range(20)],
    )
    rows = bm25_search_df(docs, ["spark"], top_n=5).collect()
    assert len(rows) == 5
    assert all(r["score"] > 0 for r in rows)


def test_trigram_repeated_text_scores_higher(spark):
    """A document whose trigrams dominate the corpus must out-score a
    document of corpus-rare sequences, and n_tokens must equal the true
    token count."""
    from bread_spark.extensions.curation import ngram_logprob_scores_df

    rows = [(i, "a b c a b c a b c") for i in range(5)]
    rows += [(100, "x y z q w e r t u")]
    out = {
        r["doc_id"]: r
        for r in ngram_logprob_scores_df(_mkdocs(spark, rows), 3).collect()
    }
    assert out[1]["n_tokens"] == 9
    assert out[100]["n_tokens"] == 9
    assert out[1]["mean_logp"] > out[100]["mean_logp"]


@pytest.mark.parametrize("order", [1, 2, 3, 5])
def test_ngram_short_docs_degrade_to_lower_orders(spark, order):
    """Docs shorter than the LM order must still score (lower-order
    backoff) — the n-token accounting holds at every order's boundary,
    up to the 4- and 5-token docs at order 5."""
    from bread_spark.extensions.curation import ngram_logprob_scores_df

    rows = [(1, "a"), (2, "a b"), (3, "a b a"), (4, "a b a c"), (5, "a b a c b")]
    out = {
        r["doc_id"]: r["n_tokens"]
        for r in ngram_logprob_scores_df(_mkdocs(spark, rows), order).collect()
    }
    assert out == {1: 1, 2: 2, 3: 3, 4: 4, 5: 5}


def test_tfidf_ubiquitous_terms_score_zero(spark, sf_dir):
    """A term present in EVERY document has idf = ln(1) = 0, so it can
    never be a top keyword unless nothing else is available; scores are
    non-negative and each doc emits at most k ranked rows."""
    from collections import Counter

    from bread_spark.extensions.search import TFIDF_TOP_K, tfidf_keywords

    rows = tfidf_keywords(spark, sf_dir).collect()
    assert all(r["tfidf"] >= 0 for r in rows)
    per_doc = Counter(r["doc_id"] for r in rows)
    assert max(per_doc.values()) <= TFIDF_TOP_K
    ranks = {r["rank"] for r in rows}
    assert ranks <= set(range(1, TFIDF_TOP_K + 1))


def test_source_kl_nonnegative_and_complete(spark, sf_dir):
    """Gibbs' inequality: KL ≥ 0 for every source; one row per source;
    token masses sum to the corpus total."""
    from bread_spark.extensions.curation import source_kl_divergence
    from bread_spark.io import load_table

    rows = source_kl_divergence(spark, sf_dir).collect()
    n_sources = (
        load_table(spark, sf_dir, "documents").select("source").distinct().count()
    )
    assert len(rows) == n_sources
    assert all(r["kl_divergence"] >= 0 for r in rows)


def test_source_kl_zero_for_identical_distributions(spark):
    """Two sources with identical token distributions → KL exactly 0 for
    both (the drift metric's null case)."""
    from bread_spark.extensions.curation import source_kl_divergence_df

    df = spark.createDataFrame(
        [("a b c", "s1"), ("a b c", "s2")],
        "text string, source string",
    )
    rows = source_kl_divergence_df(df).collect()
    assert len(rows) == 2
    assert all(r["kl_divergence"] == 0.0 for r in rows)


def test_vocab_growth_monotone_and_converges_to_true_vocab(spark, sf_dir):
    """Per source: the curve never decreases and its last point equals
    the source's true distinct-token count."""
    import pyspark.sql.functions as F

    from bread_spark.extensions.training import vocab_growth
    from bread_spark.io import load_table

    rows = vocab_growth(spark, sf_dir).collect()
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    truth = {
        r["source"]: r["v"]
        for r in load_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("token"),
        )
        .groupBy("source")
        .agg(F.countDistinct("token").alias("v"))
        .collect()
    }
    for src, pts in by_source.items():
        pts.sort(key=lambda r: r["checkpoint"])
        sizes = [p["vocab_size"] for p in pts]
        assert sizes == sorted(sizes)
        assert sizes[-1] == truth[src]


def test_quality_by_source_covers_every_source(spark, sf_dir):
    from bread_spark.functions.text import quality_by_source
    from bread_spark.io import load_table

    rows = quality_by_source(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert len(rows) == docs.select("source").distinct().count()
    assert sum(r["n_docs"] for r in rows) == docs.count()
    assert all(0.0 <= r["gate_pass_rate"] <= 1.0 for r in rows)


def test_gopher_gate_verdict_consistency(spark, sf_dir):
    """`passes` must be exactly the conjunction of the rule columns, and
    the gate must discriminate on the test corpus (both verdicts occur)."""
    from bread_spark.functions.text import gopher_quality_gate

    rows = gopher_quality_gate(spark, sf_dir).collect()
    assert all(
        r["passes"]
        == (
            r["ok_token_count"]
            and r["ok_mean_word_len"]
            and r["ok_stopwords"]
            and r["ok_alpha_ratio"]
            and r["ok_repetition"]
        )
        for r in rows
    )
    verdicts = {r["passes"] for r in rows}
    assert verdicts == {True, False}


def test_contamination_report_complete_and_bounded(spark, sf_dir):
    """One row per probe doc (with ≥3 words); leak_frac in [0,1]; leaked
    shingles never exceed the probe's shingle count; and the report
    agrees with `decontaminate` about whether ANY leakage exists."""
    from bread_spark.extensions.training import (
        PROBE_MAX_DOC_ID,
        contamination_report,
        decontaminate,
    )
    from bread_spark.extensions.dedup import shingle_frame

    rows = contamination_report(spark, sf_dir).collect()
    n_probe_docs = (
        shingle_frame(spark, sf_dir)
        .filter(f"doc_id < {PROBE_MAX_DOC_ID}")
        .select("doc_id")
        .distinct()
        .count()
    )
    assert len(rows) == n_probe_docs
    for r in rows:
        assert 0.0 <= r["leak_frac"] <= 1.0
        assert r["n_leaked_shingles"] <= r["n_probe_shingles"]
        assert (r["n_corpus_docs"] == 0) == (r["n_leaked_shingles"] == 0)
    any_leak_probe_side = any(r["n_leaked_shingles"] > 0 for r in rows)
    any_leak_corpus_side = (
        decontaminate(spark, sf_dir).filter("n_overlap > 0").count() > 0
    )
    assert any_leak_probe_side == any_leak_corpus_side


def test_mix_by_source_shares_sum_to_one(spark, sf_dir):
    """Both the labeled and learned topic-mix views: per-source shares
    sum to 1 (within rounding) and doc counts cover the joined corpus."""
    from collections import defaultdict

    from bread_spark.extensions.similarity import (
        label_mix_by_source,
        topic_mix_by_source,
    )

    for fn in (label_mix_by_source, topic_mix_by_source):
        shares = defaultdict(float)
        docs = defaultdict(int)
        for r in fn(spark, sf_dir).collect():
            shares[r["source"]] += r["share"]
            docs[r["source"]] += r["n_docs"]
        assert all(abs(s - 1.0) < 0.01 for s in shares.values()), fn.__name__
        assert sum(docs.values()) == 500 * (
            1 if "0.01" in sf_dir else 10
        ) or sum(docs.values()) > 0


def test_phrase_match_hand_positions(spark):
    """'table scan' matches only adjacency; proximity(5) also catches
    the gapped co-occurrence; first_pos is the earliest left-word hit;
    reversed order ('scan table') never matches."""
    from bread_spark.extensions.search import phrase_match_df

    docs = spark.createDataFrame(
        [
            (1, "table scan merge table scan"),  # 2 adjacent hits
            (2, "table merge sort scan"),  # gap 3: proximity only
            (3, "scan table"),  # wrong order
            (4, "table x x x x x scan"),  # gap 6: outside both
        ],
        "doc_id long, text string",
    )
    phrase = {r["doc_id"]: r for r in phrase_match_df(docs, max_gap=1).collect()}
    assert set(phrase) == {1}
    assert phrase[1]["n_matches"] == 2 and phrase[1]["first_pos"] == 0
    prox = {r["doc_id"]: r for r in phrase_match_df(docs, max_gap=5).collect()}
    assert set(prox) == {1, 2}
    assert prox[2]["n_matches"] == 1 and prox[2]["first_pos"] == 0
    # pairs for doc 1 at gap≤5: (0,1), (0,4), (3,4) — pair semantics
    assert prox[1]["n_matches"] == 3


def test_phrase_cross_boundary_pairs_count_each(spark):
    """Multiple left-word occurrences each pair with every in-window
    right occurrence (the oracle's pair semantics)."""
    from bread_spark.extensions.search import phrase_match_df

    docs = spark.createDataFrame(
        [(1, "table table scan scan")], "doc_id long, text string"
    )
    # pairs within gap ≤2: (0,2) (1,2) (1,3) and (0,3)? gap 3 — no.
    r = phrase_match_df(docs, max_gap=2).collect()[0]
    assert r["n_matches"] == 3
    assert r["first_pos"] == 0


def test_positional_probes_real_corpus(spark, sf_dir):
    """Proximity is a superset of the exact phrase: every phrase doc
    appears in the proximity table with at least as many matches."""
    from bread_spark.extensions.search import phrase_search, proximity_search

    ph = {r["doc_id"]: r["n_matches"] for r in phrase_search(spark, sf_dir).collect()}
    px = {
        r["doc_id"]: r["n_matches"]
        for r in proximity_search(spark, sf_dir).collect()
    }
    assert ph  # the probe phrase exists in the synthetic corpus
    assert set(ph) <= set(px)
    for d, n in ph.items():
        assert px[d] >= n


def test_search_rank_fusion_exact_contributions(spark):
    """A document ranked #1 by all three lexical rankers carries the
    exact integer RRF score 3 · (1e12 div 61); every fused row carries
    1-3 contributing systems."""
    from bread_spark.extensions.search import search_rank_fusion_df

    docs = spark.createDataFrame(
        [
            (1, "spark hash window spark extra words here"),
            (2, "spark alone in this one"),
            (3, "hash and hash again"),
            (4, "nothing relevant at all"),
        ],
        "doc_id bigint, text string",
    )
    rows = search_rank_fusion_df(docs, ["spark", "hash", "window"]).collect()
    best = rows[0]
    assert best.doc_id == 1
    assert best.n_systems == 3
    assert best.rrf_score == 3 * (10**12 // 61)
    assert {r.doc_id for r in rows} == {1, 2, 3}  # doc 4 matches nothing
    assert all(1 <= r.n_systems <= 3 for r in rows)


def test_search_snippets_window_and_edges(spark):
    """first_pos is the earliest hit of ANY term; the snippet window
    clamps its start at the left edge (keeping the full width) and
    truncates at the right edge — identically on both engines."""
    from bread_spark.extensions.search import search_snippets_df

    docs = spark.createDataFrame(
        [
            (1, "hash at the very start of it"),      # hit at pos 1
            (2, "one two spark four five six seven"), # mid: full 5-window
            (3, "ends with the word window"),         # hit at last pos
            (4, "no relevant terms here"),
        ],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in search_snippets_df(docs, ["spark", "hash", "window"]).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].first_pos == 1
    assert rows[1].snippet == "hash at the very start"  # start clamps to 1
    assert rows[2].first_pos == 3
    assert rows[2].snippet == "one two spark four five"
    assert rows[3].first_pos == 5
    assert rows[3].snippet == "the word window"        # right edge truncates
