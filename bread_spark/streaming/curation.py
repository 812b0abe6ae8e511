"""Streaming curation monitors — the stream-shaped members of the
corpus-curation family (extensions/curation.py, functions/text.py cover
the batch forms).

A 100 TB corpus doesn't land at once: crawls arrive continuously, and
the numbers a curation dashboard watches (per-source volume, token
mass, quality-gate pass rate) must update as batches land, not after a
nightly rebuild. Both monitors are unbounded streaming aggregations
keyed on `source` — state is O(sources), the smallest state any
grouped streaming aggregate can hold, so no watermark is needed; run
them in `update`/`complete` output mode into a dashboard sink.

The quality monitor composes the SAME `gopher_quality_gate_df`
expressions the batch gate runs — shuffle-free projections apply to a
streaming frame unchanged, so the batch catalog entry and the monitor
can never disagree on a verdict.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import gopher_quality_gate_df


def corpus_stats_stream(docs: DataFrame) -> DataFrame:
    """Running per-source ingestion stats over a document stream:
    document count, token mass, mean tokens. The streaming twin of
    `corpus_stats_by_source` (minus the distinct-counts, which need
    approximate forms in streaming state)."""
    n_tokens = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    return (
        docs.select("source", n_tokens.alias("n_tokens"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("mean_tokens"),
        )
    )


def quality_monitor_stream(docs: DataFrame) -> DataFrame:
    """Running per-source Gopher-gate pass rate over a document stream —
    the early-warning signal that a crawl's quality shifted (a source
    whose pass rate drops mid-ingestion gets quarantined before it
    pollutes the mix)."""
    gated = gopher_quality_gate_df(docs, keep=("source",)).select(
        "source", "passes"
    )
    return gated.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("passes"), 1).otherwise(0)).alias("n_passing"),
        F.round(
            F.avg(F.when(F.col("passes"), 1.0).otherwise(0.0)), 4
        ).alias("pass_rate"),
    )


# ---------------------------------------------------------------------------
# Online 5-gram perplexity monitor (the ngram5_logprob_scores twin)
# ---------------------------------------------------------------------------

LM_OOV_FLOOR = 1e-9  # probability floor for tokens the base LM never saw


def ngram5_score_stream_against_base(
    stream: DataFrame,
    uni: DataFrame,
    big: DataFrame,
    tri: DataFrame,
    quad: DataFrame,
    quint: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    window: str = "10 minutes",
    lateness: str = "1 hour",
) -> DataFrame:
    """The streaming twin of `extensions.curation.ngram5_logprob_scores`:
    score each incoming document under the FROZEN base-corpus 5-gram LM
    (CCNet's online shape — the perplexity gate a crawl passes through
    as it lands, not after a nightly rebuild).

    The count tables are the batch build's (w1..wk, n) tables
    (`lm_counts` for orders 1-4, `ngram_counts_df` for order 5) — stage
    them once (localCheckpoint, or bucketed tables keyed on the n-gram
    at 100 TB) and pass them in; Spark re-resolves the static side of a
    stream-static join per micro-batch.

    Two deliberate divergences from the batch scorer, both forced by
    scoring NEW text against a FIXED model (the batch entry scores the
    corpus against itself, so every n-gram exists):

    - joins are LEFT and every count ratio is zero-guarded —
      ``coalesce(n_k, 0) / ctx_k`` contributes 0 when the context was
      never seen, which is exactly the deleted-interpolation limit (the
      λ_k weight collapses onto the backoff chain);
    - a document token the base LM never saw bottoms the whole chain at
      probability 0 — it takes ``LM_OOV_FLOOR`` instead (KenLM's <unk>
      analog; log10(1e-9) = -9 per OOV token).

    For documents whose every n-gram IS in the base corpus the safe
    ratios reduce to the batch arithmetic exactly — agreement is pinned
    by tests/test_streaming_curation.py. Output: one row per
    (event-time window, doc) in append mode once the watermark passes —
    state is O(docs per horizon).
    """
    from ..extensions.curation import (
        LM_LAMBDA,
        LM_LAMBDA3,
        LM_LAMBDA4,
        LM_LAMBDA5,
    )

    toks_arr = F.filter(F.split(payload_col, " "), lambda t: t != "")
    w = (
        stream.withColumn("__toks", toks_arr)
        .filter(F.size("__toks") >= 1)
        .select(id_col, ts_col, F.col("__toks").alias("toks"))
    )

    def safe(num, den):
        # 0 when the context n-gram was never seen in the base corpus
        return F.when(
            F.col(den).isNotNull() & (F.col(den) != 0),
            F.coalesce(F.col(num), F.lit(0)).cast("double") / F.col(den),
        ).otherwise(F.lit(0.0))

    total = uni.agg(F.sum("n").alias("total"))

    def uni_as(col, n_name):
        return uni.select(F.col("w1").alias(col), F.col("n").alias(n_name))

    def big_as(c1, c2, n_name):
        return big.select(
            F.col("w1").alias(c1), F.col("w2").alias(c2), F.col("n").alias(n_name)
        )

    def tri_as(c1, c2, c3, n_name):
        return tri.select(
            F.col("w1").alias(c1),
            F.col("w2").alias(c2),
            F.col("w3").alias(c3),
            F.col("n").alias(n_name),
        )

    def quad_as(c1, c2, c3, c4, n_name):
        return quad.select(
            F.col("w1").alias(c1),
            F.col("w2").alias(c2),
            F.col("w3").alias(c3),
            F.col("w4").alias(c4),
            F.col("n").alias(n_name),
        )

    def p1(n1):
        return F.coalesce(F.col(n1), F.lit(0)).cast("double") / F.col("total")

    def p2(n12, n1_ctx, n2):
        return F.lit(LM_LAMBDA) * safe(n12, n1_ctx) + F.lit(1 - LM_LAMBDA) * p1(n2)

    def p3(n123, n12_ctx, n23, n2_ctx, n3):
        return F.lit(LM_LAMBDA3) * safe(n123, n12_ctx) + F.lit(1 - LM_LAMBDA3) * p2(
            n23, n2_ctx, n3
        )

    def p4(n1234, n123_ctx, n234, n23_ctx, n34, n3_ctx, n4):
        return F.lit(LM_LAMBDA4) * safe(n1234, n123_ctx) + F.lit(
            1 - LM_LAMBDA4
        ) * p3(n234, n23_ctx, n34, n3_ctx, n4)

    def lp(prob_col):
        return F.log10(F.greatest(prob_col, F.lit(LM_OOV_FLOOR)))

    # token 1: unigram
    first_lp = (
        w.select(id_col, ts_col, F.col("toks")[0].alias("w1"))
        .join(uni, "w1", "left")
        .join(F.broadcast(total))
        .select(id_col, ts_col, lp(p1("n")).alias("lp"))
    )
    # token 2: bigram interpolation on the first pair
    second_lp = (
        w.filter(F.size("toks") >= 2)
        .select(
            id_col, ts_col, F.col("toks")[0].alias("w1"), F.col("toks")[1].alias("w2")
        )
        .join(big_as("w1", "w2", "n12"), ["w1", "w2"], "left")
        .join(uni_as("w1", "n1"), "w1", "left")
        .join(uni_as("w2", "n2"), "w2", "left")
        .join(F.broadcast(total))
        .select(id_col, ts_col, lp(p2("n12", "n1", "n2")).alias("lp"))
    )
    # token 3: trigram interpolation on the first triple
    third_lp = (
        w.filter(F.size("toks") >= 3)
        .select(
            id_col,
            ts_col,
            F.col("toks")[0].alias("w1"),
            F.col("toks")[1].alias("w2"),
            F.col("toks")[2].alias("w3"),
        )
        .join(tri_as("w1", "w2", "w3", "n123"), ["w1", "w2", "w3"], "left")
        .join(big_as("w1", "w2", "n12"), ["w1", "w2"], "left")
        .join(big_as("w2", "w3", "n23"), ["w2", "w3"], "left")
        .join(uni_as("w2", "n2"), "w2", "left")
        .join(uni_as("w3", "n3"), "w3", "left")
        .join(F.broadcast(total))
        .select(id_col, ts_col, lp(p3("n123", "n12", "n23", "n2", "n3")).alias("lp"))
    )
    # token 4: 4-gram interpolation on the first quad
    fourth_lp = (
        w.filter(F.size("toks") >= 4)
        .select(
            id_col,
            ts_col,
            F.col("toks")[0].alias("w1"),
            F.col("toks")[1].alias("w2"),
            F.col("toks")[2].alias("w3"),
            F.col("toks")[3].alias("w4"),
        )
        .join(quad_as("w1", "w2", "w3", "w4", "n1234"), ["w1", "w2", "w3", "w4"], "left")
        .join(tri_as("w1", "w2", "w3", "n123"), ["w1", "w2", "w3"], "left")
        .join(tri_as("w2", "w3", "w4", "n234"), ["w2", "w3", "w4"], "left")
        .join(big_as("w2", "w3", "n23"), ["w2", "w3"], "left")
        .join(big_as("w3", "w4", "n34"), ["w3", "w4"], "left")
        .join(uni_as("w3", "n3"), "w3", "left")
        .join(uni_as("w4", "n4"), "w4", "left")
        .join(F.broadcast(total))
        .select(
            id_col,
            ts_col,
            lp(p4("n1234", "n123", "n234", "n23", "n34", "n3", "n4")).alias("lp"),
        )
    )
    # tokens ≥ 5: the full 5-gram chain per sliding window of the stream
    # doc (built in-array map-side, like the batch `ngram_window_expr`)
    quints = (
        w.filter(F.size("toks") >= 5)
        .select(
            id_col,
            ts_col,
            F.explode(
                F.expr(
                    "transform(slice(toks, 5, greatest(size(toks) - 4, 0)), "
                    "(t, i) -> struct(toks[i] AS w1, toks[i + 1] AS w2, "
                    "toks[i + 2] AS w3, toks[i + 3] AS w4, t AS w5))"
                )
            ).alias("p"),
        )
        .select(id_col, ts_col, "p.w1", "p.w2", "p.w3", "p.w4", "p.w5")
    )
    quint_lp = (
        quints.join(
            quint.withColumnRenamed("n", "n12345"), ["w1", "w2", "w3", "w4", "w5"], "left"
        )
        .join(quad_as("w1", "w2", "w3", "w4", "n1234"), ["w1", "w2", "w3", "w4"], "left")
        .join(quad_as("w2", "w3", "w4", "w5", "n2345"), ["w2", "w3", "w4", "w5"], "left")
        .join(tri_as("w2", "w3", "w4", "n234"), ["w2", "w3", "w4"], "left")
        .join(tri_as("w3", "w4", "w5", "n345"), ["w3", "w4", "w5"], "left")
        .join(big_as("w3", "w4", "n34"), ["w3", "w4"], "left")
        .join(big_as("w4", "w5", "n45"), ["w4", "w5"], "left")
        .join(uni_as("w4", "n4"), "w4", "left")
        .join(uni_as("w5", "n5"), "w5", "left")
        .join(F.broadcast(total))
        .select(
            id_col,
            ts_col,
            lp(
                F.lit(LM_LAMBDA5) * safe("n12345", "n1234")
                + F.lit(1 - LM_LAMBDA5)
                * p4("n2345", "n234", "n345", "n34", "n45", "n4", "n5")
            ).alias("lp"),
        )
    )
    unioned = (
        first_lp.unionByName(second_lp)
        .unionByName(third_lp)
        .unionByName(fourth_lp)
        .unionByName(quint_lp)
    )
    scored = (
        unioned.withWatermark(ts_col, lateness)
        .groupBy(F.window(ts_col, window).alias("win"), F.col(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("lp"), 6).alias("mean_logp"),
        )
    )
    return scored.select(
        F.col("win").getField("start").alias("window_start"),
        id_col,
        "n_tokens",
        "mean_logp",
    )


# ---------------------------------------------------------------------------
# Streaming boilerplate gate (the boilerplate_filtered_corpus twin)
# ---------------------------------------------------------------------------


def base_boilerplate_table(base, chunk_tokens=None, min_docs=None):
    """The frozen boilerplate digest table of a static corpus — the
    frame `boilerplate_gate_stream_against_base` anti-joins every
    micro-batch against. Build ONCE per stream (localCheckpoint, or at
    100 TB persist it — it is tiny: the heavy-hitter tail of the chunk
    frequency distribution); passing raw `base` instead re-runs the
    frequency aggregate per micro-batch."""
    from ..extensions.curation import (
        BOILER_MIN_DOCS,
        CHUNK_TOKENS,
        _boilerplate_table,
        _fixed_chunk_stream,
    )

    n = CHUNK_TOKENS if chunk_tokens is None else chunk_tokens
    md = BOILER_MIN_DOCS if min_docs is None else min_docs
    return _boilerplate_table(_fixed_chunk_stream(base, n), md).select("chash")


def boilerplate_gate_stream_against_base(
    stream: DataFrame,
    base: DataFrame | None = None,
    payload_col: str = "payload",
    id_col: str = "event_id",
    ts_col: str = "ts",
    window: str = "10 minutes",
    lateness: str = "1 hour",
    base_boiler: DataFrame | None = None,
    chunk_tokens: int | None = None,
    min_docs: int | None = None,
) -> DataFrame:
    """The streaming twin of `extensions.curation.
    boilerplate_filtered_corpus`: strip every chunk of each incoming
    document that matches the FROZEN base corpus's boilerplate table,
    and emit the rebuilt document when its event-time window finalizes —
    the online form of the crawl-ingest boilerplate scrubber (navigation
    furniture identified on the existing corpus is removed from new
    pages on arrival; it does NOT learn new boilerplate within the
    stream — rebuild the base table periodically for that, exactly like
    the span gate's staged base).

    Plan: map-side chunking with the SAME `_chunk_expr` the batch
    operator uses (the two can never disagree on boundaries), a
    stream-static broadcast ANTI join on 16-byte digests, then a
    watermarked tumbling-window reassembly keyed on (window, doc) —
    state is O(docs per horizon) and evicts with the watermark.
    Documents whose every chunk is boilerplate emit no row, matching the
    batch operator. Output: window_start, id, n_chunks, n_kept, text.
    """
    from ..extensions.curation import CHUNK_TOKENS, _chunk_expr

    n = CHUNK_TOKENS if chunk_tokens is None else chunk_tokens
    if base_boiler is None:
        if base is None:
            raise ValueError("pass either `base` (raw corpus) or `base_boiler`")
        base_boiler = base_boilerplate_table(base, n, min_docs)
    chunked = (
        stream.withColumn("__chunks", F.expr(_chunk_expr(payload_col, n)))
        .select(
            id_col,
            ts_col,
            F.size("__chunks").alias("n_chunks"),
            F.posexplode("__chunks").alias("chunk_idx", "chunk"),
        )
        .withColumn("chash", F.unhex(F.md5(F.col("chunk").cast("binary"))))
    )
    kept = chunked.join(F.broadcast(base_boiler), "chash", "left_anti")
    out = (
        kept.withWatermark(ts_col, lateness)
        .groupBy(F.window(ts_col, window).alias("win"), F.col(id_col))
        .agg(
            F.first("n_chunks").alias("n_chunks"),
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.expr(
                    "transform(sort_array(collect_list(struct(chunk_idx, chunk))), "
                    "s -> s.chunk)"
                ),
                " ",
            ).alias("text"),
        )
    )
    return out.select(
        F.col("win").getField("start").alias("window_start"),
        id_col,
        "n_chunks",
        "n_kept",
        "text",
    )
