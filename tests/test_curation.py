"""Invariant tests for the r4 curation operators (extensions/curation.py).

The DuckDB differential in test_oracle.py certifies value equality; these
pin the SEMANTIC contracts that a hash can't express.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bread_spark.extensions import curation
from bread_spark.io import load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents")


# ---------------------------------------------------------------------------
# paragraph_dedup
# ---------------------------------------------------------------------------


def test_paragraph_dedup_chunks_kept_exactly_once(spark):
    """Every surviving chunk text appears exactly once across the whole
    deduped corpus (global first-occurrence-wins)."""
    out = curation.paragraph_dedup(spark, SF_DIR)
    chunks = out.select(
        F.explode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(split(text, ' ')) / "
                f"{curation.CHUNK_TOKENS}.0) as int) - 1), "
                f"i -> array_join(slice(split(text, ' '), "
                f"i * {curation.CHUNK_TOKENS} + 1, {curation.CHUNK_TOKENS}), ' '))"
            )
        ).alias("chunk")
    )
    dupes = chunks.groupBy("chunk").count().filter("count > 1").count()
    assert dupes == 0


def test_paragraph_dedup_exact_dup_doc_loses_all_chunks(spark):
    """A document whose text is an exact duplicate of an earlier one keeps
    zero chunks (so it has no output row); the earlier doc keeps all.
    A partial overlap keeps only the novel chunks."""
    base = " ".join(f"tok{i}" for i in range(64))  # exactly 2 chunks of 32
    novel = " ".join(f"new{i}" for i in range(32))
    frame = spark.createDataFrame(
        [(0, base), (1, base), (2, base + " " + novel)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in curation.paragraph_dedup_df(frame).collect()}
    assert out[0]["n_kept"] == out[0]["n_chunks"] == 2
    assert 1 not in out  # exact dup: zero surviving chunks → no row
    assert out[2]["n_chunks"] == 3 and out[2]["n_kept"] == 1
    assert out[2]["text"] == novel


def test_paragraph_dedup_counts_and_reassembly(spark):
    out = curation.paragraph_dedup(spark, SF_DIR).collect()
    assert out, "deduped corpus should be non-empty"
    for r in out:
        assert 1 <= r["n_kept"] <= r["n_chunks"]
        assert r["text"]  # non-empty reassembled text


# ---------------------------------------------------------------------------
# domain_quota_sample
# ---------------------------------------------------------------------------


def test_domain_quota_respected_and_deterministic(spark, docs):
    out = curation.domain_quota_sample(spark, SF_DIR)
    per_source = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    totals = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    for src, n in per_source.items():
        assert n == min(curation.DOMAIN_QUOTA, totals[src])
    # deterministic: same selection on a re-run
    again = {(r["doc_id"], r["source"]) for r in curation.domain_quota_sample(spark, SF_DIR).collect()}
    first = {(r["doc_id"], r["source"]) for r in out.collect()}
    assert first == again


# ---------------------------------------------------------------------------
# corpus_mix
# ---------------------------------------------------------------------------


def test_corpus_mix_epoch_counts_bracket_weight(spark, docs):
    """Every doc of a source with weight w appears floor(w) or ceil(w)
    times, with contiguous epoch numbering from 0."""
    out = curation.corpus_mix(spark, SF_DIR)
    counts = out.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("copies"), F.max("epoch").alias("max_e"), F.min("epoch").alias("min_e")
    )
    for r in counts.collect():
        w = curation.MIX_WEIGHTS.get(r["source"], curation.DEFAULT_MIX_WEIGHT)
        assert math.floor(w) <= r["copies"] <= math.ceil(w)
        assert r["min_e"] == 0 and r["max_e"] == r["copies"] - 1


def test_corpus_mix_fractional_rate_tracks_weight(spark, docs):
    """Across many docs, the realized copy rate of a fractional-weight
    source approaches its weight (md5 gate ~ uniform)."""
    out = curation.corpus_mix(spark, SF_DIR)
    n_docs = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_rows = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    for src, w in curation.MIX_WEIGHTS.items():
        if src not in n_docs or n_docs[src] < 20:
            continue
        rate = n_rows.get(src, 0) / n_docs[src]
        assert abs(rate - w) <= 0.35, f"{src}: rate {rate:.2f} vs weight {w}"


# ---------------------------------------------------------------------------
# unigram_logprob_scores
# ---------------------------------------------------------------------------


def test_unigram_logprob_bounds_and_coverage(spark, docs):
    out = curation.unigram_logprob_scores(spark, SF_DIR)
    rows = out.collect()
    # every doc with ≥1 token is scored
    n_docs = docs.filter(F.size(F.filter(F.split("text", " "), lambda t: t != "")) > 0).count()
    assert len(rows) == n_docs
    for r in rows:
        assert r["mean_logp"] < 0  # log prob of non-certain events
        assert r["n_tokens"] >= 1


def test_unigram_logprob_common_beats_rare(spark):
    """A document of corpus-common tokens must score higher than one of
    rare tokens — the ordering the quality filter relies on."""
    from bread_spark.extensions.curation import unigram_logprob_scores

    out = unigram_logprob_scores(spark, SF_DIR)
    toks = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    lm = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    # per-doc mean token frequency should correlate with mean_logp sign-wise:
    # take the best and worst scored docs and compare their mean token counts
    scored = {r["doc_id"]: r["mean_logp"] for r in out.collect()}
    best = max(scored, key=scored.get)
    worst = min(scored, key=scored.get)
    freq = (
        toks.join(lm, "token")
        .groupBy("doc_id")
        .agg(F.avg(F.log10("n")).alias("mean_log_n"))
    )
    f = {r["doc_id"]: r["mean_log_n"] for r in freq.collect()}
    assert f[best] > f[worst]


# ---------------------------------------------------------------------------
# paragraph_dedup packed-ordinal guard
# ---------------------------------------------------------------------------


def test_paragraph_dedup_guard_raises_on_out_of_range_doc_id(spark):
    """A doc_id ≥ 2^43 would overflow the packed (doc_id, chunk_idx)
    ordinal — the guard must raise instead of silently corrupting the
    first-occurrence order."""
    frame = spark.createDataFrame(
        [(1 << 43, "a b c"), (0, "x y z")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="packed-ordinal range"):
        curation.paragraph_dedup_df(frame).collect()


# ---------------------------------------------------------------------------
# domain_token_quota
# ---------------------------------------------------------------------------


def test_domain_token_quota_budget_and_prefix(spark, docs):
    """Per source: tokens-before-last-admitted-doc < budget (so overshoot
    < 1 doc), and the admitted set is a PREFIX of the md5(text) order —
    dropping any admitted doc's predecessor would be a different operator."""
    out = curation.domain_token_quota(spark, SF_DIR).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    total_by_src = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for src, rows in by_src.items():
        rows.sort(key=lambda r: r["cum_tokens"])
        for r in rows:
            assert r["cum_tokens"] - r["n_tokens"] < curation.TOKEN_QUOTA
        # cum_tokens of the k admitted docs must be exactly the running
        # sums of their own n_tokens — i.e. a prefix with no gaps
        running = 0
        for r in rows:
            running += r["n_tokens"]
            assert r["cum_tokens"] == running
        assert len(rows) <= total_by_src[src]


# ---------------------------------------------------------------------------
# corpus_mix_tokens
# ---------------------------------------------------------------------------


def test_corpus_mix_tokens_epochs_and_token_target(spark, docs):
    """Every doc appears in exactly floor(w) full epochs; the fractional
    epoch's token total lands within one document of the per-source
    target (w - floor(w)) * total_source_tokens."""
    import math as m

    out = curation.corpus_mix_tokens(spark, SF_DIR).collect()
    n_tok = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id",
            F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias("n"),
        ).collect()
    }
    src_of = {r["doc_id"]: r["source"] for r in docs.select("doc_id", "source").collect()}
    tot = {}
    for d, s in src_of.items():
        tot[s] = tot.get(s, 0) + n_tok[d]
    weights = {s: curation.MIX_WEIGHTS.get(s, curation.DEFAULT_MIX_WEIGHT) for s in tot}

    # full-epoch copies: every doc of source s appears once per epoch
    # 0..floor(w)-1; fractional copies carry epoch == floor(w)
    from collections import Counter

    full_copies = Counter()
    frac_tokens = Counter()
    for r in out:
        w = weights[r["source"]]
        if r["epoch"] < m.floor(w):
            full_copies[r["doc_id"]] += 1
        else:
            assert r["epoch"] == m.floor(w)
            frac_tokens[r["source"]] += r["n_tokens"]
    for d, s in src_of.items():
        assert full_copies[d] == m.floor(weights[s]), (d, s)
    max_doc = {s: max(n_tok[d] for d in src_of if src_of[d] == s) for s in tot}
    for s, w in weights.items():
        target = (w - m.floor(w)) * tot[s]
        got = frac_tokens.get(s, 0)
        if target == 0:
            assert got == 0
        else:
            # admitted while cum-before < target → total in [target, target+max_doc)
            assert target <= got < target + max_doc[s], (s, target, got)


# ---------------------------------------------------------------------------
# bigram_logprob_scores
# ---------------------------------------------------------------------------


def test_bigram_logprob_coverage_and_bounds(spark, docs):
    out = curation.bigram_logprob_scores(spark, SF_DIR)
    rows = out.collect()
    n_docs = docs.filter(
        F.size(F.filter(F.split("text", " "), lambda t: t != "")) > 0
    ).count()
    assert len(rows) == n_docs
    tok_counts = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id",
            F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias("n"),
        ).collect()
    }
    for r in rows:
        assert r["mean_logp"] < 0
        assert r["n_tokens"] == tok_counts[r["doc_id"]]


def test_bigram_repeated_phrase_beats_shuffled_tokens(spark):
    """Context matters: a corpus where 'alpha beta' always co-occur must
    score an 'alpha beta alpha beta...' doc higher under the bigram LM
    than a doc using the same unigrams in never-seen orders — the
    separation the unigram LM cannot make."""
    coherent = " ".join(["alpha beta"] * 20)
    scrambled = " ".join(["beta"] * 20 + ["alpha"] * 20)
    filler = [(i + 10, " ".join(["alpha beta"] * 10)) for i in range(8)]
    frame = spark.createDataFrame(
        [(0, coherent), (1, scrambled)] + filler, "doc_id long, text string"
    )
    # drive the operator core over the probe frame directly (the catalog
    # entry rides the shared scored-frame cache keyed on sf_dir, so a
    # load_table monkeypatch would be shadowed by a prior test's build)
    from bread_spark.extensions.curation import ngram_logprob_scores_df

    scored = {
        r["doc_id"]: r["mean_logp"]
        for r in ngram_logprob_scores_df(frame, 2).collect()
    }
    assert scored[0] > scored[1]


# ---------------------------------------------------------------------------
# perplexity_buckets
# ---------------------------------------------------------------------------


def test_perplexity_buckets_distributed_matches_window_variant(spark):
    """The two-pass-rank distributed plan must assign every doc the exact
    bucket the global NTILE window does."""
    a = sorted(
        (r["doc_id"], r["bucket"])
        for r in curation.perplexity_buckets(spark, SF_DIR).collect()
    )
    b = sorted(
        (r["doc_id"], r["bucket"])
        for r in curation.perplexity_buckets_distributed(spark, SF_DIR).collect()
    )
    assert a == b


def test_perplexity_buckets_sizes_and_ordering(spark):
    """NTILE contract: bucket sizes differ by ≤1 with larger buckets
    first, and every head doc scores ≥ every tail doc."""
    rows = curation.perplexity_buckets(spark, SF_DIR).collect()
    sizes = {}
    by_bucket = {}
    for r in rows:
        sizes[r["bucket"]] = sizes.get(r["bucket"], 0) + 1
        by_bucket.setdefault(r["bucket"], []).append(r["mean_logp"])
    assert sorted(sizes) == list(range(1, curation.PERPLEXITY_K + 1))
    vals = [sizes[b] for b in sorted(sizes)]
    assert max(vals) - min(vals) <= 1
    assert vals == sorted(vals, reverse=True)
    assert min(by_bucket[1]) >= max(by_bucket[curation.PERPLEXITY_K])


# ---------------------------------------------------------------------------
# cross_dedup (incremental-corpus gate)
# ---------------------------------------------------------------------------


def test_cross_dedup_drops_exact_base_matches_only(spark):
    """A new doc identical to any base doc is dropped; internal dups
    within the new batch survive (they are `dedup_exact`'s job, not the
    cross-corpus gate's); near-identical text survives."""
    from bread_spark.extensions.dedup import cross_dedup_df

    base = spark.createDataFrame(
        [(0, "s", "en", "alpha beta gamma"), (1, "s", "en", "delta epsilon zeta")],
        "doc_id long, source string, lang string, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "s", "en", "alpha beta gamma"),   # exact dup of base 0 → drop
            (11, "s", "en", "alpha beta gamma!"),  # near-identical → keep
            (12, "s", "en", "fresh text"),         # novel → keep
            (13, "s", "en", "fresh text"),         # internal dup → keep
        ],
        "doc_id long, source string, lang string, text string",
    )
    kept = sorted(r["doc_id"] for r in cross_dedup_df(base, new).collect())
    assert kept == [11, 12, 13]


# ---------------------------------------------------------------------------
# temperature_mix_weights
# ---------------------------------------------------------------------------


def test_temperature_mix_weights_invariants(spark):
    """Shares each sum to 1; α<1 smoothing flattens: every below-average
    source is boosted (>1), every above-average source damped (<1), and
    token-mass ordering is preserved in the smoothed shares."""
    rows = curation.temperature_mix_weights(spark, SF_DIR).collect()
    assert abs(sum(r["raw_share"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["temp_share"] for r in rows) - 1.0) < 1e-4
    mean_tokens = sum(r["n_tokens"] for r in rows) / len(rows)
    for r in rows:
        if r["n_tokens"] < mean_tokens * 0.95:
            assert r["boost"] > 1.0, r
        if r["n_tokens"] > mean_tokens * 1.05:
            assert r["boost"] < 1.0, r
    by_tokens = sorted(rows, key=lambda r: r["n_tokens"])
    shares = [r["temp_share"] for r in by_tokens]
    assert shares == sorted(shares)


def test_temperature_alpha_one_is_raw_alpha_zero_is_uniform(spark):
    """α=1 reproduces the raw shares exactly; α=0 is the uniform mix."""
    one = curation.temperature_mix_weights(spark, SF_DIR, alpha=1.0).collect()
    for r in one:
        assert abs(r["temp_share"] - r["raw_share"]) <= 2e-6, r
    zero = curation.temperature_mix_weights(spark, SF_DIR, alpha=0.0).collect()
    for r in zero:
        assert abs(r["temp_share"] - 1.0 / len(zero)) <= 2e-6, r


def test_dedup_normalized_collapses_reformatted_copies(spark, tmp_path):
    """Casefold + whitespace-collapse + trim: trivially reformatted copies
    land in ONE group with the minimum doc_id canonical; genuinely
    different text stays separate; byte-exact dedup would keep all four."""
    from bread_spark.extensions.dedup import dedup_exact_hash, dedup_normalized

    rows = [
        (1, "Hello  World\n", "en", "web", 13),
        (2, "hello world", "en", "web", 11),
        (3, "  HELLO\tWORLD  ", "en", "web", 15),
        (4, "goodbye world", "en", "web", 13),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    sf = str(tmp_path)
    norm = {r["canonical_doc_id"]: r["dup_count"] for r in dedup_normalized(spark, sf).collect()}
    assert norm == {1: 3, 4: 1}
    exact = dedup_exact_hash(spark, sf).count()
    assert exact == 4  # byte-exact sees four distinct documents


def test_snapshot_diff_matches_construction(spark):
    """The simulated snapshot pair has a fully known changeset: ids
    ≥ CROSS_DEDUP_BASE_MAX are added, ids < DIFF_REMOVED_BELOW removed,
    the [DIFF_EDITED_LO, DIFF_EDITED_HI) band changed — and nothing
    else appears (unchanged rows are excluded)."""
    from bread_spark.extensions.dedup import (
        CROSS_DEDUP_BASE_MAX,
        DIFF_EDITED_HI,
        DIFF_EDITED_LO,
        DIFF_REMOVED_BELOW,
        snapshot_diff,
    )

    n_docs = load_table(spark, SF_DIR, "documents").count()
    got = {r["doc_id"]: r["change_type"] for r in snapshot_diff(spark, SF_DIR).collect()}
    for d, c in got.items():
        if c == "added":
            assert d >= CROSS_DEDUP_BASE_MAX
        elif c == "removed":
            assert d < DIFF_REMOVED_BELOW
        else:
            assert DIFF_EDITED_LO <= d < DIFF_EDITED_HI
    assert sum(1 for c in got.values() if c == "added") == n_docs - CROSS_DEDUP_BASE_MAX
    assert sum(1 for c in got.values() if c == "removed") == DIFF_REMOVED_BELOW
    assert sum(1 for c in got.values() if c == "changed") == DIFF_EDITED_HI - DIFF_EDITED_LO


# content-defined chunking ---------------------------------------------------


def test_cdc_boundaries_survive_a_front_insertion(spark):
    """The reason CDC exists: boundaries are a function of local content,
    so an edit re-synchronizes within ~W tokens. Prepending tokens to a
    document must leave MOST chunk digests identical (everything after
    the first boundary), while fixed-window chunking shifts every
    boundary and shares (almost) nothing."""
    import random

    from bread_spark.extensions.curation import (
        CDC_W,
        CHUNK_TOKENS,
        _cdc_chunk_frame,
    )
    from pyspark.sql import functions as F

    rng = random.Random(7)
    words = [f"w{rng.randrange(4096):03x}" for _ in range(400)]
    base = " ".join(words)
    edited = " ".join(["zzq0", "zzq1", "zzq2"] + words)
    df = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    chunks = {
        r["doc_id"]: r["chunks"] for r in _cdc_chunk_frame(df).collect()
    }
    base_set, edited_set = set(chunks[1]), set(chunks[2])
    shared = len(base_set & edited_set)
    # everything except the (re-synchronized) head chunk must survive
    assert shared >= len(base_set) - 2, (shared, len(base_set))
    # fixed windows lose (nearly) everything under the same edit
    fixed = {
        r["doc_id"]: set(r["chunks"])
        for r in df.select(
            "doc_id",
            F.expr(
                f"transform(sequence(0, cast(ceil(size(split(text, ' ')) / {CHUNK_TOKENS}.0) "
                f"as int) - 1), i -> array_join(slice(split(text, ' '), "
                f"i * {CHUNK_TOKENS} + 1, {CHUNK_TOKENS}), ' '))"
            ).alias("chunks"),
        ).collect()
    }
    assert len(fixed[1] & fixed[2]) <= 1
    # sanity on the re-sync bound: the first boundary differs by ≤ the
    # insertion length; every later boundary is content-locked
    assert CDC_W <= 8  # the argument above assumes a small window


def test_cdc_chunks_conserve_tokens_and_rebuild_roundtrip(spark, sf_dir):
    """Chunk token counts must partition each document exactly, and a
    corpus with NO duplicate chunks must rebuild byte-identically."""
    from bread_spark.extensions.curation import cdc_chunk_dedup, cdc_chunks
    from bread_spark.io import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    want = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id",
            F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias("n"),
        ).collect()
    }
    got = {
        r["doc_id"]: r["s"]
        for r in cdc_chunks(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sum("chunk_tokens").alias("s"))
        .collect()
    }
    assert got == {k: v for k, v in want.items() if v >= 1}

    # docs whose every chunk won (n_kept == n_chunks) rebuild exactly
    rebuilt = {
        r["doc_id"]: r["text"]
        for r in cdc_chunk_dedup(spark, sf_dir)
        .filter("n_kept = n_chunks")
        .collect()
    }
    original = {
        r["doc_id"]: " ".join(
            t for t in r["text"].split(" ") if t != ""
        )
        for r in docs.collect()
    }
    assert rebuilt  # non-degenerate
    for doc_id, text in rebuilt.items():
        assert text == original[doc_id], doc_id


# ---------------------------------------------------------------------------
# boilerplate removal (C4 / RefinedWeb line-frequency filtering)
# ---------------------------------------------------------------------------


def test_boilerplate_mass_conservation(spark, docs):
    """Every occurrence of every boilerplate chunk is removed and nothing
    else is: total kept chunks == total chunks − total boilerplate
    occurrences (docs reduced to zero chunks drop out of the output but
    their n_chunks still count on the left of the identity)."""
    report = curation.boilerplate_chunks(spark, SF_DIR).collect()
    assert report, "threshold must fire at sf0.01"
    assert all(r["n_docs"] >= curation.BOILER_MIN_DOCS for r in report)
    assert all(r["n_occurrences"] >= r["n_docs"] for r in report)
    boiler_occ = sum(r["n_occurrences"] for r in report)

    corpus = curation.boilerplate_filtered_corpus(spark, SF_DIR).collect()
    import math as _m

    total_chunks = sum(
        int(_m.ceil(len(r["text"].split(" ")) / curation.CHUNK_TOKENS))
        for r in docs.select("text").collect()
    )
    assert sum(r["n_kept"] for r in corpus) == total_chunks - boiler_occ
    assert all(1 <= r["n_kept"] <= r["n_chunks"] for r in corpus)


def test_boilerplate_clean_docs_rebuild_exactly(spark, docs):
    """A document with NO boilerplate chunks (n_kept == n_chunks) must
    rebuild to its original single-spaced text — removal touches only
    the flagged chunks."""
    rebuilt = {
        r["doc_id"]: r["text"]
        for r in curation.boilerplate_filtered_corpus(spark, SF_DIR)
        .filter("n_kept = n_chunks")
        .collect()
    }
    assert rebuilt
    original = {r["doc_id"]: r["text"] for r in docs.collect()}
    for doc_id, text in rebuilt.items():
        assert text == original[doc_id], doc_id


def test_boilerplate_full_replication_empties_corpus(spark, docs):
    """Replicate every doc 3x under fresh doc_ids: every chunk now lives
    in >= 3 distinct docs, so at min_docs=2 the ENTIRE corpus is
    boilerplate and the filtered output is empty — the operator removes
    ALL occurrences, unlike paragraph_dedup's first-occurrence-wins."""
    reps = spark.range(3).select(F.col("id").alias("rep"))
    big = docs.select("doc_id", "text").crossJoin(reps).select(
        (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"), "text"
    )
    assert curation.boilerplate_filter_df(big, min_docs=2).count() == 0


# ---------------------------------------------------------------------------
# zipf_fit_by_source (rank-frequency distributional health check)
# ---------------------------------------------------------------------------


def test_zipf_fit_semantics_on_corpus(spark):
    """Natural-ish text: every source's fitted slope is negative (higher
    rank → lower frequency), R² lands in [0, 1], and n_terms is capped
    at the configured head size."""
    rows = curation.zipf_fit_by_source(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_terms"] <= curation.ZIPF_TOP_K
        assert r["zipf_slope"] < 0, r["source"]
        assert 0.0 <= r["zipf_r2"] <= 1.0, r["source"]


def test_zipf_flat_source_has_zero_slope(spark):
    """A templated source where every token occurs EXACTLY equally often
    fits a flat line: slope 0 — the degenerate curve the dashboard is
    there to flag (R² is 0/0 for a flat fit; only the slope is pinned)."""
    frame = spark.createDataFrame(
        [
            {"source": "tpl", "text": "aa bb cc dd"},
            {"source": "tpl", "text": "dd cc bb aa"},
        ]
    )
    rows = curation.zipf_fit_df(frame).collect()
    assert len(rows) == 1
    assert rows[0]["zipf_slope"] == 0.0
    assert rows[0]["n_terms"] == 4


# ---------------------------------------------------------------------------
# source_dashboard (composed per-source rollup)
# ---------------------------------------------------------------------------


def test_source_dashboard_cells_equal_members(spark):
    """VERDICT r7 #4: the dashboard's columns must EQUAL the member
    operators' outputs joined on source — frame-level equality, not just
    each side passing its own oracle — so a member that later gains a
    seam or changes rounding cannot drift from the dashboard silently
    between their separate driver rows."""
    from bread_spark.extensions.sketch import (
        bootstrap_source_stats,
        hll_distinct_by_source,
    )
    from bread_spark.functions.text import quality_by_source

    dash = {
        r["source"]: r.asDict()
        for r in curation.source_dashboard(spark, SF_DIR).collect()
    }

    stats = {
        r["source"]: r.asDict()
        for r in curation.corpus_stats_by_source(spark, SF_DIR).collect()
    }
    # left-join from the complete source list: exactly the stats sources
    assert set(dash) == set(stats)
    for src, row in stats.items():
        for k, v in row.items():
            assert dash[src][k] == v, (src, k)

    member_cols = [
        (quality_by_source, {"gate_pass_rate": "gate_pass_rate"}),
        (
            curation.source_kl_divergence,
            {"kl_divergence": "kl_divergence", "n_distinct_tokens": "n_distinct_tokens"},
        ),
        (curation.zipf_fit_by_source, {"zipf_slope": "zipf_slope", "zipf_r2": "zipf_r2"}),
        (hll_distinct_by_source, {"hll_est": "distinct_tokens_est"}),
        (bootstrap_source_stats, {"ci_lo": "ci_lo", "ci_hi": "ci_hi"}),
    ]
    for fn, mapping in member_cols:
        for r in fn(spark, SF_DIR).collect():
            for member_col, dash_col in mapping.items():
                assert dash[r["source"]][dash_col] == r[member_col], (
                    fn.__name__,
                    r["source"],
                    member_col,
                )


def test_source_dashboard_joins_are_left_outer(spark):
    """A source missing from any member aggregate must surface as null
    cells, never vanish — the plan's member joins are LeftOuter."""
    plan = (
        curation.source_dashboard(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # five member joins, all LeftOuter (members keep inner joins
    # INTERNALLY — e.g. the HLL report's true-vs-estimate join — so the
    # assertion counts the composition's own joins, not the subplans')
    assert plan.count(" LeftOuter,") >= 5
