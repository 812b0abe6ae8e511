"""Scale smoke, part 1: heavy operators on 10-20x replicated data —
catches anything accidentally quadratic (correctness of counts, not
timing; wall-clock assertions would be flaky). Split 3 ways in r13
(VERDICT r12 #3): siblings test_scale_smoke_merge.py (sketch
shard-merge algebra) and test_scale_smoke_stats.py (r9+ replication
invariants)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bread_spark.io import load_table
from tests.conftest import SF_DIR
from tests.scale_fixtures import REPS, big_docs_r6, big_events  # noqa: F401

def test_sessionize_scales(spark, big_events):
    from bread_spark.models import session_stats

    base = load_table(spark, SF_DIR, "events")
    small = session_stats(base).count()
    big = session_stats(big_events).count()
    # replicas have disjoint user spaces → sessions scale exactly linearly
    assert big == small * REPS


def test_asof_scales(spark, big_events):
    from bread_spark.operators.asof import asof_join

    purchases = (
        big_events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pv"))
    )
    out = asof_join(big_events.select("event_id", "user_id", "ts"), purchases, on="ts", by="user_id")
    # as-of join never multiplies rows
    assert out.count() == big_events.count()


def test_connected_components_scales(spark):
    """Components over disjoint replica graphs: labels stay within each
    replica's id space and counts scale exactly linearly."""
    from bread_spark.extensions.dedup import connected_components

    docs = spark.range(100).select(F.col("id").alias("doc_id"))
    # chain pairs inside each replica: (i, i+1) for even i → 50-node pairs
    base_pairs = spark.range(50).select(
        (F.col("id") * 2).alias("doc_a"), (F.col("id") * 2 + 1).alias("doc_b")
    )
    reps = spark.range(REPS).select(F.col("id").alias("rep"))
    big_docs = docs.crossJoin(reps).select(
        (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id")
    )
    big_pairs = base_pairs.crossJoin(reps).select(
        (F.col("doc_a") + F.col("rep") * 1_000_000).alias("doc_a"),
        (F.col("doc_b") + F.col("rep") * 1_000_000).alias("doc_b"),
    )
    out = connected_components(big_docs, big_pairs)
    assert out.count() == 100 * REPS
    # 50 two-doc clusters per replica → canonical count = 50 per replica
    canon = out.filter("is_canonical").count()
    assert canon == 50 * REPS
    # no label crosses a replica boundary
    crossed = out.filter(
        (F.col("doc_id") / 1_000_000).cast("long")
        != (F.col("cluster_id") / 1_000_000).cast("long")
    )
    assert crossed.count() == 0


def test_lsh_bucket_pairs_scales(spark):
    """Replicated embeddings: identical vectors share buckets, so the
    capped kernel must keep pair counts bounded by the cap — and pair
    output for the original corpus stays a subset of what replication
    produces (no pairs lost by adding data)."""
    from bread_spark.extensions.similarity import lsh_bucket_pairs_df

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    reps = spark.range(3).select(F.col("id").alias("rep"))
    big = emb.crossJoin(reps).select(
        (F.col("vec_id") + F.col("rep") * 1_000_000).alias("vec_id"), "embedding"
    ).localCheckpoint()
    pairs = lsh_bucket_pairs_df(big, threshold=0.99, max_bucket=5_000)
    # replicas of the same vector are exact dups (cosine 1.0): each of the
    # 3 copies pairs with the other 2 → ≥ 3 × n_vectors pairs exist; the
    # run completing without quadratic blow-up is the smoke signal, the
    # count bound is the invariant
    n = emb.count()
    assert pairs.filter(F.col("cosine") >= 0.99).count() >= 3 * n // 2


def test_minhash_scales(spark):
    from bread_spark.extensions.dedup import _word_shingles, minhash_signatures

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    reps = spark.range(REPS).select(F.col("id").alias("rep"))
    big_docs = docs.crossJoin(reps).select(
        (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"), "text"
    ).localCheckpoint()
    sigs = minhash_signatures(_word_shingles(big_docs))
    # one signature per doc regardless of duplication factor
    assert sigs.count() == big_docs.count()
    # replicated docs carry identical signatures
    n_distinct = sigs.select("signature").distinct().count()
    base_distinct = (
        minhash_signatures(_word_shingles(docs)).select("signature").distinct().count()
    )
    assert n_distinct == base_distinct


def test_paragraph_dedup_scales(spark):
    """Disjoint-text replicas → exactly linear output; identical-text
    replicas → output INVARIANT (every later replica's chunks are dups of
    rep 0's). Catches anything quadratic in the digest join and any
    cross-replica ordinal leakage."""
    from bread_spark.extensions.curation import paragraph_dedup_df

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    small = paragraph_dedup_df(docs).count()
    reps = spark.range(REPS).select(F.col("id").alias("rep"))
    rep_docs = docs.crossJoin(reps)
    big_same = rep_docs.select(
        (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"), "text"
    )
    assert paragraph_dedup_df(big_same).count() == small
    big_disjoint = rep_docs.select(
        (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
        F.expr(
            "array_join(transform(split(text, ' '), "
            "t -> concat(t, '_', cast(rep AS string))), ' ')"
        ).alias("text"),
    )
    assert paragraph_dedup_df(big_disjoint).count() == small * REPS


def test_bigram_lm_scales(spark):
    """Disjoint token spaces per replica → exactly linear scored-doc
    count; catches the LM join degenerating into anything super-linear."""
    from bread_spark.extensions.curation import ngram_logprob_scores_df

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    small = ngram_logprob_scores_df(docs, 2).count()
    reps = spark.range(REPS).select(F.col("id").alias("rep"))
    big = docs.crossJoin(reps).select(
        (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
        F.expr(
            "array_join(transform(split(text, ' '), "
            "t -> concat(t, '_', cast(rep AS string))), ' ')"
        ).alias("text"),
    )
    assert ngram_logprob_scores_df(big, 2).count() == small * REPS


def test_bm25_scales(spark, big_docs_r6):
    """Replicating every doc REPS× multiplies tf and df by REPS and
    scales N and total length together, so avgdl and the tf-normalization
    are unchanged while idf shifts identically for every term — the
    top-n remains fully populated and every score stays positive and
    finite. Catches a quadratic blow-up in the postings join (the count
    and score sanity would explode or hang)."""
    from bread_spark.extensions.search import BM25_QUERY, BM25_TOP_N, bm25_search_df

    rows = bm25_search_df(big_docs_r6, list(BM25_QUERY), top_n=BM25_TOP_N).collect()
    assert len(rows) == BM25_TOP_N
    assert all(r["score"] > 0 for r in rows)


def test_tfidf_scales_exactly(spark, big_docs_r6):
    """Same replication: tf(t,d) is unchanged per replica doc and
    N/df both scale by REPS, so idf — and therefore every tfidf score
    and each doc's keyword ranking — is IDENTICAL to the base corpus."""
    from bread_spark.extensions.search import tfidf_keywords_df
    from bread_spark.io import load_table as lt

    base = lt(spark, SF_DIR, "documents").select("doc_id", "text")
    base_rows = {
        (r["doc_id"], r["token"]): r["tfidf"]
        for r in tfidf_keywords_df(base).collect()
    }
    rep0 = {
        (r["doc_id"], r["token"]): r["tfidf"]
        for r in tfidf_keywords_df(big_docs_r6.select("doc_id", "text"))
        .filter(F.col("doc_id") < 10_000_000)
        .collect()
    }
    assert rep0 == base_rows


def test_source_kl_invariant_under_replication(spark, big_docs_r6):
    """Replicating every doc scales n_st, n_s, n_t, N together — every
    ratio, and so every KL value, is identical to the base corpus."""
    from bread_spark.extensions.curation import source_kl_divergence_df
    from bread_spark.io import load_table as lt

    base = {
        r["source"]: r["kl_divergence"]
        for r in source_kl_divergence_df(
            lt(spark, SF_DIR, "documents").select("source", "text")
        ).collect()
    }
    big = {
        r["source"]: r["kl_divergence"]
        for r in source_kl_divergence_df(
            big_docs_r6.select("source", "text")
        ).collect()
    }
    assert big == base


def test_span_windows_scale_exactly_linearly(spark, big_docs_r6):
    """The window frame is a map-side transform: REPS× docs (disjoint ids,
    same texts) must yield exactly REPS× window rows — any deviation means
    the explode fan-out depends on something besides the document."""
    from bread_spark.extensions.dedup import _span_windows
    from bread_spark.io import load_table as lt

    base_n = _span_windows(lt(spark, SF_DIR, "documents")).count()
    big_n = _span_windows(big_docs_r6).count()
    assert big_n == base_n * REPS


def test_duplicate_spans_under_replication(spark, big_docs_r6):
    """With every doc replicated REPS≥2 times, EVERY span is duplicated
    (each replica twin shares all windows): the duplicated-span set equals
    the full distinct-span set of the base corpus, and per-span doc
    frequency scales by exactly REPS."""
    from bread_spark.extensions.dedup import _span_windows

    base_wins = _span_windows(
        load_table(spark, SF_DIR, "documents")
    )
    base_distinct = base_wins.select("span").distinct().count()
    base_docfreq = {
        r["span"]: r["nd"]
        for r in base_wins.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .collect()
    }
    big = (
        _span_windows(big_docs_r6)
        .groupBy("span")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .collect()
    )
    assert len(big) == base_distinct
    for r in big:
        assert r["n_docs"] == base_docfreq[r["span"]] * REPS


def test_span_report_drops_all_replicated_docs(spark, big_docs_r6):
    """On the replicated corpus every windowed doc has dup_frac exactly
    1.0 (its replica twin shares every window) → keep is False for all of
    them; zero-window (short) docs stay kept."""
    from bread_spark.extensions.dedup import span_dedup_report_df

    rows = span_dedup_report_df(big_docs_r6).collect()
    assert len(rows) == big_docs_r6.count()
    for r in rows:
        if r["n_windows"] > 0:
            assert r["dup_frac"] == 1.0 and r["keep"] is False
        else:
            assert r["keep"] is True


def test_funnel_scales(spark, big_events):
    """Replicas have disjoint user spaces → per-user funnel stages (and
    hence every day-grain stage count) scale exactly linearly; any
    accidental cross-user interaction or self-join blowup breaks the
    exact multiple."""
    from bread_spark.models import funnel_stages

    base = load_table(spark, SF_DIR, "events").select("user_id", "event_type", "ts")
    small = funnel_stages(base).filter("t_view IS NOT NULL").count()
    big = (
        funnel_stages(big_events.select("user_id", "event_type", "ts"))
        .filter("t_view IS NOT NULL")
        .count()
    )
    assert big == small * REPS


def test_retention_cohorts_scale_exactly(spark, big_events):
    """Disjoint replicated users → every (cohort_day, day_offset) cell's
    active count is exactly REPS× the base corpus's."""
    from pyspark.sql import Window

    ud = big_events.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    w = Window.partitionBy("user_id")
    big_cells = {
        (r["cohort_day"], r["day_offset"]): r["n_active"]
        for r in ud.withColumn("cohort_day", F.min("day").over(w))
        .select("cohort_day", F.datediff("day", "cohort_day").alias("day_offset"))
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .collect()
    }
    from bread_spark.models import retention_cohorts

    small_cells = {
        (r["cohort_day"], r["day_offset"]): r["n_active"]
        for r in retention_cohorts(spark, SF_DIR).collect()
    }
    assert set(big_cells) == set(small_cells)
    assert all(big_cells[k] == v * REPS for k, v in small_cells.items())


@pytest.mark.nightly  # replication smoke; default tier keeps the reference-pinned BPE tests (r9 tier split)
def test_bpe_merges_invariant_under_corpus_replication(spark, tmp_path):
    """Doubling the corpus doubles every pair count but must not change
    the learned merge SEQUENCE — the trainer's decisions depend on
    relative frequencies only (the property that makes the word-table
    reduction scale-safe)."""
    from bread_spark.extensions.training import bpe_merges

    texts = ["low lower lowest", "new newer newest", "wide wider widest"]
    for reps, sub in ((1, "a"), (2, "b")):
        rows = []
        for rep in range(reps):
            for i, t in enumerate(texts):
                rows.append((rep * 100 + i, t, "en", "web", len(t)))
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).coalesce(1).write.parquet(str(tmp_path / sub / "documents.parquet"))

    one = [
        (r["merge_rank"], r["left"], r["right"], r["pair_count"])
        for r in bpe_merges(spark, str(tmp_path / "a"), n_merges=6).collect()
    ]
    two = [
        (r["merge_rank"], r["left"], r["right"], r["pair_count"])
        for r in bpe_merges(spark, str(tmp_path / "b"), n_merges=6).collect()
    ]
    assert [(m[0], m[1], m[2]) for m in one] == [(m[0], m[1], m[2]) for m in two]
    assert all(t[3] == 2 * o[3] for o, t in zip(one, two))


@pytest.mark.nightly  # replication smoke; default tier keeps the ngram5 oracle + seam-equality pins (r9 tier split)
def test_ngram5_invariant_under_replication(spark, big_docs_r6):
    """Replicating every doc REPS× scales every n-gram count AND the
    total token mass by REPS, so each count ratio — and therefore every
    interpolated probability and per-doc mean — is IDENTICAL to the
    base corpus. Also the quadratic-blowup canary for the two new
    count-table joins (quad/quint)."""
    from bread_spark.extensions.curation import ngram_logprob_scores_df
    from bread_spark.io import load_table as lt

    base = {
        r["doc_id"]: (r["n_tokens"], r["mean_logp"])
        for r in ngram_logprob_scores_df(
            lt(spark, SF_DIR, "documents").select("doc_id", "text"), 5
        ).collect()
    }
    rep0 = {
        r["doc_id"] : (r["n_tokens"], r["mean_logp"])
        for r in ngram_logprob_scores_df(big_docs_r6.select("doc_id", "text"), 5)
        .filter(F.col("doc_id") < 10_000_000)
        .collect()
    }
    assert rep0 == base


def test_cdc_chunking_scales_linearly(spark, big_docs_r6):
    """CDC boundaries are per-document functions — REPS× docs with
    disjoint ids must yield exactly REPS× chunk rows, and a replica
    doc's chunk sequence must equal the base doc's (boundaries do not
    depend on anything outside the document)."""
    from bread_spark.extensions.curation import _cdc_chunk_frame
    from bread_spark.io import load_table as lt

    base = {
        r["doc_id"]: r["chunks"]
        for r in _cdc_chunk_frame(
            lt(spark, SF_DIR, "documents").select("doc_id", "text")
        ).collect()
    }
    big = _cdc_chunk_frame(big_docs_r6.select("doc_id", "text"))
    assert big.count() == len(base) * REPS
    rep1 = {
        r["doc_id"] - 10_000_000: r["chunks"]
        for r in big.filter(
            (F.col("doc_id") >= 10_000_000) & (F.col("doc_id") < 20_000_000)
        ).collect()
    }
    assert rep1 == base


def test_cms_counters_scale_exactly_linearly(spark, big_docs_r6):
    """Replicating every document REPS× multiplies EVERY count-min
    counter by exactly REPS (same tokens → same buckets; counts are
    pure sums) — the sketch stays the same constant-size table while its
    mass scales, which is the whole point."""
    from bread_spark.extensions.sketch import cms_sketch_df

    base = {
        (r["d"], r["bucket"]): r["cnt"]
        for r in cms_sketch_df(
            load_table(spark, SF_DIR, "documents").select("text")
        ).collect()
    }
    big = {
        (r["d"], r["bucket"]): r["cnt"]
        for r in cms_sketch_df(big_docs_r6.select("text")).collect()
    }
    assert big == {k: v * REPS for k, v in base.items()}


def test_hll_registers_invariant_under_replication(spark, big_docs_r6):
    """Replication adds NO new distinct tokens, so the register table —
    and therefore the distinct-count estimate — must be bit-identical on
    the 10× corpus (duplicates are absorbed by MAX; the estimate depends
    on registers alone)."""
    from bread_spark.extensions.sketch import hll_registers_df

    base = {
        (r["source"], r["bucket"]): r["max_rho"]
        for r in hll_registers_df(
            load_table(spark, SF_DIR, "documents").select("source", "text")
        ).collect()
    }
    big = {
        (r["source"], r["bucket"]): r["max_rho"]
        for r in hll_registers_df(big_docs_r6.select("source", "text")).collect()
    }
    assert big == base


def test_boilerplate_table_docfreq_scales_linearly(spark, big_docs_r6):
    """On the replicated corpus every chunk's document frequency is
    exactly REPS× its base frequency — the frequency aggregate stays a
    per-chunk count, never a pairwise structure."""
    from bread_spark.extensions.curation import (
        CHUNK_TOKENS,
        _boilerplate_table,
        _fixed_chunk_stream,
    )

    base = {
        r["chunk"]: (r["n_docs"], r["n_occurrences"])
        for r in _boilerplate_table(
            _fixed_chunk_stream(
                load_table(spark, SF_DIR, "documents").select("doc_id", "text"),
                CHUNK_TOKENS,
            ),
            min_docs=1,
        ).collect()
    }
    big = {
        r["chunk"]: (r["n_docs"], r["n_occurrences"])
        for r in _boilerplate_table(
            _fixed_chunk_stream(
                big_docs_r6.select("doc_id", "text"), CHUNK_TOKENS
            ),
            min_docs=1,
        ).collect()
    }
    assert big == {k: (nd * REPS, no * REPS) for k, (nd, no) in base.items()}
