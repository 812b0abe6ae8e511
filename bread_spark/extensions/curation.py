"""Corpus-curation operators beyond the core training family — the
remaining steps a 100 TB pre-training data build runs between "raw
documents" and "mixture-weighted, deduplicated corpus":

- paragraph_dedup:        sub-document (chunk-level) exact dedup with
                          global first-occurrence-wins and document
                          reassembly (the Dolma/C4 paragraph-dedup shape;
                          here a "paragraph" is a fixed 32-token chunk
                          because the synthetic corpus has no newlines).
- domain_quota_sample:    deterministic per-source quota cap (bound any
                          one domain's share of the corpus).
- corpus_mix:             repetition-factor mixture weighting — sources
                          with weight w get floor(w) full epochs plus an
                          md5-gated fractional epoch (the LLaMA-recipe
                          upsampling shape).
- {unigram,bigram,trigram,ngram5}_logprob_scores:
                          per-document mean log-probability under the
                          corpus's own interpolated order-k n-gram LM
                          (k = 1, 2, 3, 5; deleted interpolation down to
                          the unigram) — the CCNet perplexity-filter
                          shape, with k = 5 the order of CCNet's KenLM.
                          One scorer (`ngram_logprob_scores_df`) over one
                          count seam per order (`lm_counts`), plus the
                          CCNet head/middle/tail perplexity buckets.
- domain_token_quota:     per-source quota by cumulative TOKEN budget (real
                          pre-training quotas bound tokens, not documents).
- corpus_mix_tokens:      mixture weighting where the fractional epoch is
                          filled to a per-source TOKEN target instead of a
                          per-document coin flip.

All deterministic (content/md5-derived randomness), all JVM-side — no
Python in any hot path. Every operator has a DuckDB oracle.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import split_tokens
from ..io import load_table
from ..plans.rank import global_rank

CHUNK_TOKENS = 32  # "paragraph" size for sub-document dedup
DOMAIN_QUOTA = 10  # max docs any one source may contribute
TOKEN_QUOTA = 600  # max tokens any one source may contribute
MIX_SEED = "mix42"
LM_LAMBDA = 0.75  # bigram weight in the interpolated LM (unigram backoff)

# Repetition factors per source: >1 upsamples (full epochs + fractional),
# <1 downsamples (fractional epoch only). Unlisted sources get 1.0.
MIX_WEIGHTS = {"src0": 2.5, "src1": 2.0, "src2": 0.5, "src3": 0.25}
DEFAULT_MIX_WEIGHT = 1.0


# ---------------------------------------------------------------------------
# Sub-document (paragraph/chunk) exact dedup
# ---------------------------------------------------------------------------


def paragraph_dedup(
    spark: SparkSession, sf_dir: str, chunk_tokens: int = CHUNK_TOKENS
) -> DataFrame:
    """Chunk-level exact dedup with document reassembly: split every
    document into fixed `chunk_tokens`-token chunks, keep each distinct
    chunk text only at its GLOBAL first occurrence (min (doc_id,
    chunk_idx)), and rebuild each document from its surviving chunks.

    Output: one row per document that keeps ≥1 chunk — doc_id, n_chunks,
    n_kept, text (the surviving chunks re-joined in order).

    Plan (all JVM): split → in-array chunking (transform over a
    sequence of slice()s — no explode until chunks exist) → posexplode →
    groupBy(chunk) taking the min composite (doc_id, chunk_idx) ordinal →
    join back on chunk + ordinal equality (first occurrence wins) →
    groupBy(doc_id) ordered reassembly.

    Scale: the winner aggregate and the first-occurrence join are keyed on
    the 16-byte md5 digest of the chunk, NOT the raw chunk text (the
    dedup.py hashed-shingle trick applied to chunks) — at 32-token chunks
    that's ~10× smaller shuffle keys, and text rides along exactly once as
    the reassembly payload. 128-bit digests make collisions a non-issue at
    any corpus size (≈ n²/2^129). No hot key unless one chunk dominates
    the corpus — and a duplicated chunk's group only carries ONE min
    aggregate, not a posting list, so even a degenerate chunk costs O(1)
    state. The reassembly sort_array+collect_list holds one document per
    aggregation buffer — bounded by document length, the same bound the
    scan already needs. The composite ordinal packs (doc_id, chunk_idx)
    into one long (doc_id * 2^20 + idx) so the min-aggregate moves 8-byte
    values; inputs outside the packed range (doc_id ≥ 2^43 or chunk_idx ≥
    2^20, i.e. a >33M-token document) raise instead of silently wrapping.
    """
    from ..plans.materialize import materialized_frame

    # Compute-once seam: `curated_corpus` consumes the identical rebuilt
    # frame — one chunk-dedup build per catalog pass serves both (cache
    # contract in plans/materialize.py).
    return materialized_frame(
        spark,
        "paragraph_dedup",
        sf_dir,
        lambda: paragraph_dedup_df(
            load_table(spark, sf_dir, "documents").select("doc_id", "text"),
            chunk_tokens,
        ),
        (chunk_tokens,),
    )


def paragraph_dedup_df(
    docs: DataFrame, chunk_tokens: int = CHUNK_TOKENS
) -> DataFrame:
    """`paragraph_dedup` core over any (doc_id, text) frame — the seam
    synthetic-fixture tests drive directly."""
    n = chunk_tokens
    arrs = docs.select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, cast(ceil(size(split(text, ' ')) / {n}.0) "
            f"as int) - 1), i -> array_join(slice(split(text, ' '), "
            f"i * {n} + 1, {n}), ' '))"
        ).alias("chunks"),
    )
    # n_chunks rides along from the scan — no separate per-doc size
    # aggregate (and its shuffle + join) later.
    return _chunk_first_occurrence_rebuild(arrs)


def _chunk_first_occurrence_rebuild(arrs: DataFrame) -> DataFrame:
    """Corpus-wide first-occurrence-wins chunk dedup + per-doc rebuild
    over a (doc_id, chunks: array<string>) frame — the shared tail of
    `paragraph_dedup` (fixed token windows), `cdc_chunk_dedup`
    (content-defined boundaries) and `curated_corpus_v2`'s CDC stage.

    r14 (VERDICT r13 #3, guide §8/§2.3): decide with SMALL rows, move
    the text ONCE. The winner decision needs only (digest, packed
    ordinal) — 24-byte rows — and the winning ordinal DECODES back to
    (doc_id, chunk_idx) by construction, so the per-doc kept-index sets
    come from two light shuffles. The chunk text then moves exactly
    once: the unexploded (doc_id, chunks) arrays join the kept-index
    frame doc_id-keyed and the surviving text is rebuilt in-row with
    one array transform. Previous shape shuffled the exploded chunk
    TEXT twice (digest-keyed winners join + doc_id-keyed reassembly);
    at 100 TB that is the §8 anti-pattern (heavy payload crossing two
    exchanges to carry a 24-byte decision)."""
    in_range = (
        (F.col("doc_id") >= 0)
        & (F.col("doc_id") < F.lit(1 << 43))
        & (F.col("chunk_idx") < F.lit(1 << 20))
    )
    ordinal = (
        F.when(in_range, F.col("doc_id") * F.lit(1 << 20) + F.col("chunk_idx"))
        .otherwise(
            F.raise_error(
                F.lit(
                    "chunk dedup: (doc_id, chunk_idx) outside the packed-"
                    "ordinal range (need 0 <= doc_id < 2^43, chunk_idx < 2^20)"
                )
            ).cast("long")
        )
        .alias("ord")
    )
    # light exploded projection: 16-byte digest + 8-byte ordinal — the
    # chunk text itself never enters a shuffle here
    lite = arrs.select(
        "doc_id", F.posexplode("chunks").alias("chunk_idx", "chunk")
    ).select(
        F.unhex(F.md5(F.col("chunk").cast("binary"))).alias("chash"), ordinal
    )
    winners = lite.groupBy("chash").agg(F.min("ord").alias("win_ord"))
    kept_idx = (
        winners.select(
            F.expr(f"win_ord div {1 << 20}").alias("doc_id"),
            (F.col("win_ord") % F.lit(1 << 20)).cast("int").alias("chunk_idx"),
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("chunk_idx")).alias("kept"))
    )
    return arrs.join(kept_idx, "doc_id").select(
        "doc_id",
        F.size("chunks").alias("n_chunks"),
        # count() in the old reassembly aggregate was a BIGINT — keep it
        F.size("kept").cast("long").alias("n_kept"),
        F.array_join(F.expr("transform(kept, i -> chunks[i])"), " ").alias("text"),
    )


# ---------------------------------------------------------------------------
# Per-domain quota sampling
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Content-defined chunking (Rabin-Karp-style rolling-hash boundaries)
# ---------------------------------------------------------------------------

CDC_W = 4  # rolling-hash window (tokens)
CDC_MASK = 16  # boundary when h % MASK == 0 → mean chunk ≈ MASK tokens
CDC_B = 31  # polynomial base
CDC_M = 2_147_483_647  # 2^31-1: every product stays < 2^63 (ANSI-safe)
CDC_C = tuple(pow(CDC_B, j, CDC_M) for j in range(CDC_W))  # B^j mod M


def _cdc_chunk_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, chunks: array<string>) under CONTENT-DEFINED boundaries:
    token position i (i ≥ W) ends a chunk when the Rabin-Karp rolling
    hash of the last W tokens — h(i) = Σⱼ v(tokᵢ₋ⱼ)·Bʲ mod M over the
    per-token values v(t) = int(md5(t)[:8 hex]) — satisfies
    h(i) % MASK == 0. Boundaries therefore move WITH the content: an
    insertion early in a document re-synchronizes within ~W tokens
    instead of shifting every downstream boundary the way fixed windows
    do (`paragraph_dedup`'s known blind spot for edited re-crawls).
    Storage-dedup's CDC idea applied to token streams.

    Everything is ONE in-array higher-order expression over the one
    split the scan does — zero shuffles; the md5-derived token values
    keep the whole construction engine-agnostic (DuckDB mirrors it
    exactly), the mod-2³¹⁻¹ arithmetic keeps every intermediate under
    2⁶³ for ANSI mode.

    The intermediates (vals → bounds+[0,n] → chunks) are bound with the
    ``transform(array(x), v -> …)[0]`` let idiom, NOT staged
    projections: Catalyst's CollapseProject inlines projection aliases
    into every reference, so an alias chain re-evaluates the whole
    per-token value table on EVERY ``vals[i-j]`` access — measured as a
    >100× blow-up on ~100-token docs. A lambda argument is bound once
    per row by construction."""
    c_lit = ", ".join(str(c) for c in CDC_C)
    # sequence(a, b) counts DOWN when b < a — guard short docs explicitly
    chunks = (
        "transform(array(filter(split(text, ' '), t -> t != '')), toks -> "
        "  transform(array(transform(toks, "
        "      t -> cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint))), vals -> "
        "    transform(array(array_distinct(concat(array(0), "
        f"        CASE WHEN size(toks) >= {CDC_W} THEN "
        f"          filter(sequence({CDC_W}, size(toks)), i -> "
        f"            (aggregate(sequence(1, {CDC_W}), 0L, "
        f"              (acc, j) -> acc + (vals[i - j] * array({c_lit})[j - 1]) % {CDC_M}) "
        f"             % {CDC_M}) % {CDC_MASK} = 0) "
        "          ELSE array() END, "
        "        array(size(toks))))), ext -> "
        # size(ext) < 2 ⇔ zero tokens (ext collapses to [0]); guarded
        # because sequence(1, 0) counts DOWN, it is not empty
        "      CASE WHEN size(ext) >= 2 THEN "
        "        transform(sequence(1, size(ext) - 1), k -> "
        "          array_join(slice(toks, ext[k - 1] + 1, ext[k] - ext[k - 1]), ' ')) "
        "      ELSE array() END "
        "    )[0] "
        "  )[0] "
        ")[0]"
    )
    return (
        docs.select("doc_id", F.expr(chunks).alias("chunks"))
        .filter(F.size("chunks") >= 1)
    )


def _cdc_chunk_frame_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compute-once seam over `_cdc_chunk_frame` — the Rabin-Karp
    boundary scan touches every token of every document and is the
    catalog's single heaviest repeated computation (VERDICT r7: the two
    consumers paid it independently, 1.25 s + 2.67 s per pass). One
    build per (session, sf_dir) now serves both `cdc_chunks` and
    `cdc_chunk_dedup` (cache contract in plans/materialize.py; equality
    stays pinned by each consumer's own oracle). At 100 TB this frame
    is the persisted chunk-index staging table both jobs would read."""
    from ..plans.materialize import materialized_frame

    return materialized_frame(
        spark,
        "cdc_chunk_frame",
        sf_dir,
        lambda: _cdc_chunk_frame(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        ),
    )


def cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC chunk index: one row per content-defined chunk —
    (doc_id, chunk_idx, chunk_tokens, chunk_hash). The inspection /
    staging form of `cdc_chunk_dedup` (at 100 TB this table is what you
    persist next to the corpus and anti-join new crawl snapshots
    against: chunk digests survive upstream edits that shift fixed
    windows). Reads the compute-once chunk seam — the boundary scan is
    paid once per pass, shared with `cdc_chunk_dedup`."""
    toks_in_chunk = F.size(split_tokens("chunk"))
    return (
        _cdc_chunk_frame_shared(spark, sf_dir)
        .select("doc_id", F.posexplode("chunks").alias("chunk_idx", "chunk"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            toks_in_chunk.cast("long").alias("chunk_tokens"),
            F.md5(F.col("chunk").cast("binary")).alias("chunk_hash"),
        )
    )


def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide first-occurrence-wins dedup over CONTENT-DEFINED
    chunks + per-doc rebuild — `paragraph_dedup` with boundaries that
    survive insertions (the re-crawl robustness fixed windows lack).
    Same scale shape: one digest-keyed shuffle (text rides once as
    payload), one doc_id-keyed ordered reassembly. Reads the
    compute-once chunk seam shared with `cdc_chunks`."""
    return _chunk_first_occurrence_rebuild(_cdc_chunk_frame_shared(spark, sf_dir))


# ---------------------------------------------------------------------------
# Boilerplate removal (C4 / RefinedWeb line-frequency filtering)
# ---------------------------------------------------------------------------

BOILER_MIN_DOCS = 2  # a chunk in >= this many DISTINCT docs is boilerplate


def _chunk_expr(text_col: str, n: int) -> str:
    """SQL for the fixed n-token chunk array of `text_col` — shared by
    the chunkers so they can never disagree on chunk boundaries."""
    return (
        f"transform(sequence(0, cast(ceil(size(split({text_col}, ' ')) / {n}.0) "
        f"as int) - 1), i -> array_join(slice(split({text_col}, ' '), "
        f"i * {n} + 1, {n}), ' '))"
    )


def _fixed_chunk_stream(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, n_chunks, chunk_idx, chunk, chash) over fixed n-token
    windows — the exploded form of `paragraph_dedup_df`'s chunking, with
    the 16-byte md5 digest every downstream shuffle keys on."""
    arrs = docs.select("doc_id", F.expr(_chunk_expr("text", n)).alias("chunks"))
    return arrs.select(
        "doc_id",
        F.size("chunks").alias("n_chunks"),
        F.posexplode("chunks").alias("chunk_idx", "chunk"),
    ).withColumn("chash", F.unhex(F.md5(F.col("chunk").cast("binary"))))


def boilerplate_chunks(
    spark: SparkSession,
    sf_dir: str,
    chunk_tokens: int = CHUNK_TOKENS,
    min_docs: int = BOILER_MIN_DOCS,
) -> DataFrame:
    """The corpus's boilerplate table: every chunk that appears in >=
    `min_docs` DISTINCT documents, with its document frequency and total
    occurrence count — the C4/RefinedWeb "line appears in many pages →
    it's navigation/cookie-banner furniture, not content" report (C4
    dropped any line repeated 3+ times corpus-wide; a 'line' here is a
    fixed chunk because the synthetic corpus has no newlines).

    Plan: map-side chunking, ONE digest-keyed aggregate (chunk text
    rides as a min() payload, never as the shuffle key). Output size is
    the number of REPEATED chunks — tiny relative to the corpus at any
    scale, which is exactly what makes the downstream filter a broadcast.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _boilerplate_table(
        _fixed_chunk_stream(docs, chunk_tokens), min_docs
    ).select("chunk", "n_docs", "n_occurrences")


def _boilerplate_table(stream: DataFrame, min_docs: int) -> DataFrame:
    return (
        stream.groupBy("chash")
        .agg(
            F.min("chunk").alias("chunk"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def boilerplate_filtered_corpus(
    spark: SparkSession,
    sf_dir: str,
    chunk_tokens: int = CHUNK_TOKENS,
    min_docs: int = BOILER_MIN_DOCS,
) -> DataFrame:
    """Remove EVERY occurrence of every boilerplate chunk (n_docs >=
    `min_docs`) and rebuild the documents — distinct semantics from
    `paragraph_dedup`, which keeps the first occurrence: boilerplate is
    noise in all its positions, so no copy survives. Docs reduced to
    nothing drop out.

    Output: doc_id, n_chunks, n_kept, text (surviving chunks in order).

    Scale: the boilerplate table is the heavy-hitter tail of the chunk
    frequency distribution — small by construction — so the filter is a
    BROADCAST anti-join on 16-byte digests; document text crosses the
    wire only in the final doc_id-keyed reassembly, the same bound the
    scan already pays. The frequency aggregate is one combiner-friendly
    digest-keyed shuffle of (digest, doc_id) pairs.

    At default parameters the frame rides a compute-once seam shared
    with `curated_corpus_v2`, whose first stage is this exact filter —
    one chunk-scan pays for both (the CMS/CDC seam convention).
    """
    if (chunk_tokens, min_docs) == (CHUNK_TOKENS, BOILER_MIN_DOCS):
        return _boilerplate_filtered_frame(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return boilerplate_filter_df(docs, chunk_tokens, min_docs)


def _boilerplate_filtered_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Default-parameter boilerplate-scrubbed corpus, compute-once."""
    from ..plans.materialize import materialized_frame

    return materialized_frame(
        spark,
        "boilerplate_filtered",
        sf_dir,
        lambda: boilerplate_filter_df(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        ),
    )


def boilerplate_filter_df(
    docs: DataFrame,
    chunk_tokens: int = CHUNK_TOKENS,
    min_docs: int = BOILER_MIN_DOCS,
) -> DataFrame:
    """`boilerplate_filtered_corpus` core over any (doc_id, text) frame.

    r14 (guide §8, the `_chunk_first_occurrence_rebuild` move): the
    boilerplate verdict is per-DIGEST and the anti-join is broadcast,
    so the kept-chunk decision needs only (doc_id, chunk_idx, digest)
    rows; the chunk text stays in its unexploded per-doc array and
    joins the per-doc kept-index sets doc_id-keyed — the former
    doc_id-keyed reassembly shuffle carried every surviving chunk's
    text; now the text crosses zero exchanges locally (kept-index frame
    broadcasts) and at worst one at scale."""
    arrs = docs.select(
        "doc_id", F.expr(_chunk_expr("text", chunk_tokens)).alias("chunks")
    )
    lite = arrs.select(
        "doc_id", F.posexplode("chunks").alias("chunk_idx", "chunk")
    ).select(
        "doc_id",
        "chunk_idx",
        F.unhex(F.md5(F.col("chunk").cast("binary"))).alias("chash"),
    )
    boiler = (
        lite.groupBy("chash")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("chash")
    )
    kept_idx = (
        lite.join(F.broadcast(boiler), "chash", "left_anti")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("chunk_idx")).alias("kept"))
    )
    return arrs.join(kept_idx, "doc_id").select(
        "doc_id",
        F.size("chunks").alias("n_chunks"),
        # count() in the old reassembly aggregate was a BIGINT — keep it
        F.size("kept").cast("long").alias("n_kept"),
        F.array_join(F.expr("transform(kept, i -> chunks[i])"), " ").alias("text"),
    )


def domain_quota_sample(
    spark: SparkSession, sf_dir: str, quota: int = DOMAIN_QUOTA
) -> DataFrame:
    """Cap any one source's contribution at `quota` documents, chosen
    deterministically (md5(text) order, doc_id tiebreak) — the "no single
    domain dominates" bound every web-scale corpus applies.

    The window partitions by source: at 100 TB each source's rows meet in
    one shuffle partition ONLY up to the quota decision — and since the
    rank is per-source and sources number in the millions on real crawls,
    the partitioning is fine-grained; a pathologically hot single source
    is exactly what the quota exists to cut, and Spark's window TopK
    pushdown (WindowGroupLimit, rank <= k) prunes per-partition before
    the final sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.col("text").cast("binary"))
    w = Window.partitionBy("source").orderBy(key.asc(), F.col("doc_id").asc())
    return (
        docs.select(
            "doc_id",
            "source",
            "lang",
            key.alias("sample_key"),
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= quota)
        .select("doc_id", "source", "lang", "sample_key")
    )


def domain_token_quota(
    spark: SparkSession, sf_dir: str, token_budget: int = TOKEN_QUOTA
) -> DataFrame:
    """Cap any one source's contribution at `token_budget` TOKENS — the
    unit real pre-training quotas are written in (a source of few huge
    documents and a source of many tiny ones get the same budget, which a
    per-document cap like `domain_quota_sample` cannot express).

    Docs are admitted in deterministic md5(text) order (doc_id tiebreak)
    while the running token total BEFORE the doc is under budget, so the
    boundary-crossing doc is included (every source contributes at least
    one doc) and the realized total overshoots by < 1 document.

    Plan: one pass — token count from the split the scan already does, a
    per-source running-sum window, one filter. The window is a cumulative
    sum (no rank-k pushdown), but it's one sort per source partition; on
    real crawls sources number in the millions so the partitioning is
    fine-grained, and the quota itself is what cuts any pathologically
    hot source down.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(split_tokens())
    key = F.md5(F.col("text").cast("binary"))
    w = (
        Window.partitionBy("source")
        .orderBy(key.asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.select(
            "doc_id",
            "source",
            n_tokens.alias("n_tokens"),
            F.sum(n_tokens).over(w).alias("cum_tokens"),
        )
        .filter(F.col("cum_tokens") - F.col("n_tokens") < token_budget)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


# ---------------------------------------------------------------------------
# Repetition-factor corpus mixing
# ---------------------------------------------------------------------------


def corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture weighting by repetition factor: a source with weight w
    contributes floor(w) full copies ("epochs") of every document, plus
    one more gated per-document by an md5 cutoff with probability
    w - floor(w). Weights < 1 are pure downsampling (only the fractional
    epoch), weights > 1 upsample (the LLaMA-recipe shape: high-quality
    sources repeat, bulk web gets a fraction).

    Deterministic: the fractional gate hashes (seed, doc_id, epoch), so
    the same corpus always mixes identically — across runs, engines and
    partitionings. The epoch fan-out is an in-array sequence + explode
    (map-side, no shuffle at all); at 100 TB this pipelines with the scan
    and the output is written straight to the shuffle-free sink.

    Output: (doc_id, source, epoch) — one row per kept copy.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    weight = F.lit(DEFAULT_MIX_WEIGHT)
    for src, w_val in MIX_WEIGHTS.items():
        weight = F.when(F.col("source") == src, F.lit(w_val)).otherwise(weight)
    full = F.floor(weight).cast("int")
    # fractional cutoff on the first FOUR hex chars of the gate hash
    # (65536 buckets): keep epoch=floor(w) iff hex(md5) < 65536 *
    # (w - floor(w)). Resolution is 1/65536, so any weight that is a
    # multiple of 2^-16 is realized exactly; for multiples of 1/256 (the
    # current MIX_WEIGHTS) the selection is bit-identical to the old
    # 2-hex gate, since the first 2 hex chars are the high byte.
    frac_cut = F.round((weight - F.floor(weight)) * 65536).cast("int")
    gate = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(":", F.lit(MIX_SEED), F.col("doc_id"), full).cast("binary")
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("int")
    n_copies = full + F.when(gate < frac_cut, F.lit(1)).otherwise(F.lit(0))
    # NB: Spark's sequence(0, -1) counts DOWN ([0, -1]), it is not empty —
    # a weight < 1 source with a failed gate must yield zero rows, so the
    # empty case is explicit.
    epochs = F.when(
        n_copies > 0, F.sequence(F.lit(0), n_copies - 1)
    ).otherwise(F.array().cast("array<int>"))
    return docs.select("doc_id", "source", F.explode(epochs).alias("epoch"))


def corpus_mix_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted mixture weighting: like `corpus_mix`, a source with
    weight w contributes floor(w) full epochs of every document — but the
    fractional epoch is filled to a per-source TOKEN target of
    (w - floor(w)) × total_source_tokens, admitting docs in deterministic
    md5-gate order until the running token total reaches the target.
    Real pre-training mixes are specified in tokens, and the per-document
    coin flip of `corpus_mix` only hits the token target in expectation;
    this variant hits it deterministically (overshoot < 1 document).

    Plan: per-source token totals are a tiny aggregate joined back
    (broadcast — one row per source); the full epochs are a map-side
    in-array explode exactly like `corpus_mix` (zero shuffle); the
    fractional epoch is one running-sum window per source partition.

    Output: (doc_id, source, epoch, n_tokens) — one row per kept copy.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(split_tokens()).alias("n_tokens"),
    )
    weight = F.lit(DEFAULT_MIX_WEIGHT)
    for src, w_val in MIX_WEIGHTS.items():
        weight = F.when(F.col("source") == src, F.lit(w_val)).otherwise(weight)
    # r13 note: this metadata frame feeds three consumers, so the
    # tokenize-count pass plans three times; checkpointing it was built
    # and REJECTED on measurement (eager-checkpoint round-trip > two
    # recomputes at bench scale, 5-pass A/B). Flips at petabyte inputs.
    docs = docs.withColumn("w", weight)
    full = F.floor(F.col("w")).cast("int")

    # floor(w) full epochs: in-array sequence + explode, map-side.
    epochs = F.when(full > 0, F.sequence(F.lit(0), full - 1)).otherwise(
        F.array().cast("array<int>")
    )
    full_epochs = docs.select(
        "doc_id", "source", F.explode(epochs).alias("epoch"), "n_tokens"
    )

    # Fractional epoch: fill each source to (w - floor(w)) * tot tokens in
    # md5-gate order. totals is one row per source — broadcast.
    totals = docs.groupBy("source").agg(F.sum("n_tokens").alias("tot"))
    gate = F.md5(
        F.concat_ws(":", F.lit(MIX_SEED), F.col("doc_id"), full).cast("binary")
    )
    cum_w = (
        Window.partitionBy("source")
        .orderBy(gate.asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    frac = (
        docs.filter(F.col("w") > F.floor(F.col("w")))
        .join(F.broadcast(totals), "source")
        .select(
            "doc_id",
            "source",
            full.alias("epoch"),
            "n_tokens",
            F.sum("n_tokens").over(cum_w).alias("cum"),
            ((F.col("w") - F.floor(F.col("w"))) * F.col("tot")).alias("target"),
        )
        .filter(F.col("cum") - F.col("n_tokens") < F.col("target"))
        .select("doc_id", "source", "epoch", "n_tokens")
    )
    return full_epochs.unionByName(frac)


MIX_TEMPERATURE_ALPHA = 0.3  # the mT5/XLM-R multilingual smoothing exponent


def temperature_mix_weights(
    spark: SparkSession, sf_dir: str, alpha: float = MIX_TEMPERATURE_ALPHA
) -> DataFrame:
    """Temperature-smoothed mixture shares: p(s) ∝ n_tokens(s)^α — the
    standard way (mT5/XLM-R, α≈0.3) to derive the per-source sampling
    distribution instead of hand-picking `MIX_WEIGHTS`: raw token shares
    over-sample huge sources and starve small ones; exponentiating by
    α < 1 flattens the distribution, boosting the tail. `boost` =
    smoothed/raw share is exactly the repetition factor to feed
    `corpus_mix`/`corpus_mix_tokens` for each source.

    Plan: one groupBy(source) with map-side partials → a one-row grand
    total broadcast back — the `source_kl_divergence` shape. Output is
    one row per source (tiny at any corpus scale).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        F.size(split_tokens()).alias("n_tokens"),
    )
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    )
    grand = per.agg(
        F.sum("n_tokens").cast("double").alias("tot"),
        F.sum(F.pow("n_tokens", F.lit(alpha))).alias("ptot"),
    )
    smoothed = F.pow("n_tokens", F.lit(alpha)) / F.col("ptot")
    raw = F.col("n_tokens") / F.col("tot")
    return per.join(F.broadcast(grand)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(raw, 6).alias("raw_share"),
        F.round(smoothed, 6).alias("temp_share"),
        F.round(smoothed / raw, 4).alias("boost"),
    )


# ---------------------------------------------------------------------------
# Order-k interpolated n-gram LM quality scoring
# ---------------------------------------------------------------------------

LM_LAMBDA3 = 0.6  # trigram weight in the deleted-interpolation chain
LM_LAMBDA4 = 0.5  # 4-gram weight in the deleted-interpolation chain
LM_LAMBDA5 = 0.4  # 5-gram weight in the deleted-interpolation chain
# λ_k by order k; order 1 has no weight (P₁ is the bare unigram ratio)
LM_LAMBDAS = {2: LM_LAMBDA, 3: LM_LAMBDA3, 4: LM_LAMBDA4, 5: LM_LAMBDA5}
LM_MAX_ORDER = max(LM_LAMBDAS)
# Count tables up to this order are shared compute-once seams (the 5-gram
# chain reads the 3- and 4-gram tables twice each, and the trigram scorer,
# and the collocation miner read the lower ones). The
# 5-gram table's only consumer is the cached order-5 scored frame, so it
# is aggregated inline there.
LM_SEAM_MAX_ORDER = 4


def unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ngram_logprob_scores_df` at order 1: per-document mean log10
    unigram probability n(w)/N under the corpus's own unigram LM."""
    return _lm_scores(spark, sf_dir, 1)


def bigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ngram_logprob_scores_df` at order 2, served by the order-2
    scored-frame seam (three catalog entries read it)."""
    return lm_scored_frame(spark, sf_dir, 2)


def trigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ngram_logprob_scores_df` at order 3 over the shared order-1..3
    count seams (no scored-frame seam: nothing else reads these scores)."""
    return _lm_scores(spark, sf_dir, 3)


def ngram5_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ngram_logprob_scores_df` at order 5 — the order CCNet's KenLM
    models run — served by the order-5 scored-frame seam (the 5-gram
    perplexity buckets read the same scores)."""
    return lm_scored_frame(spark, sf_dir, 5)


def _lm_scores(spark: SparkSession, sf_dir: str, order: int) -> DataFrame:
    """The order-k scorer over the documents table, reading the shared
    count seams for orders up to `LM_SEAM_MAX_ORDER`."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    seams = [
        lm_counts(spark, sf_dir, k)
        for k in range(1, min(order, LM_SEAM_MAX_ORDER) + 1)
    ]
    return ngram_logprob_scores_df(docs, order, seams)


# Compute-once seam for the order-k scored frame. The scores entry and its
# perplexity-bucket consumers read the same (doc_id, n_tokens, mean_logp)
# build, so one LM training pass per catalog pass serves all of them.
# This is the materialized-intermediate pattern (dbt would call the scored
# frame a model the buckets `ref()`): the cache key is (applicationId,
# realpath(sf_dir), order, λ chain), so a new session, dataset or LM
# parameterization always rebuilds, and the persisted frame is the SAME
# DataFrame every consumer would have computed (pinned by the shared
# oracles + the window-vs-distributed equality test in test_curation.py).
def lm_scored_frame(spark: SparkSession, sf_dir: str, order: int) -> DataFrame:
    from ..plans.materialize import materialized_frame

    # Eager materialization (inside the seam) matters here: downstream
    # repartitionByRange samples its child for bounds, which must hit the
    # cache, not re-run the LM.
    lambdas = tuple(LM_LAMBDAS[k] for k in range(2, order + 1))
    return materialized_frame(
        spark,
        "lm_scored",
        sf_dir,
        lambda: _lm_scores(spark, sf_dir, order),
        (order, *lambdas),
    )


def lm_counts(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Compute-once k-gram count table (w1..wk, n) for the canonical
    documents table — read by the LM scorers of every order above k, the
    collocation miner and the OOV report.
    Cache contract: plans/materialize.py.

    Order 1 folds the `source_token_counts` seam by token instead of
    re-tokenizing the corpus: the LM scorers and the distributional
    profiles count the IDENTICAL token multiset, so one tokenization pass
    serves both (same split/filter, grouped one level finer then summed).
    Checkpointing that fold nests one checkpoint inside another on
    purpose: it keeps a single order-1 seam for its many consumers and
    measured faster cold (1.29 s → 0.78 s) than re-deriving the fold in
    each consumer."""
    from ..plans.materialize import materialized_frame

    def build():
        if k == 1:
            from .sketch import corpus_token_counts

            return corpus_token_counts(spark, sf_dir).withColumnRenamed(
                "token", "w1"
            )
        return ngram_counts_df(load_table(spark, sf_dir, "documents"), k)

    return materialized_frame(spark, "lm_counts", sf_dir, build, (k,))


def _gram_cols(k: int) -> list[str]:
    return [f"w{j}" for j in range(1, k + 1)]


def ngram_window_expr(
    k: int, first_only: bool = False, kind: int | None = None, width: int = 0
) -> str:
    """SQL over a `toks` array: the array of its k-gram windows as
    (w1..wk) structs, built in-array (one higher-order transform over the
    split the scan already did — zero shuffles). `first_only` keeps only
    the first window. `kind` prefixes each struct with a gram-order tag
    and `width` pads w(k+1)..w(width) with '' — the scorer's contribution
    shape ('' is a safe absent-context sentinel: tokens are non-empty).
    ``greatest(…, 0)`` guards the ANSI-mode negative slice length on docs
    shorter than k tokens."""
    n = f"size(toks) - {k - 1}"
    length = f"least({n}, 1)" if first_only else n
    fields = ["toks[i] AS w1"] if k > 1 else []
    fields += [f"toks[i + {j}] AS w{j + 1}" for j in range(1, k - 1)]
    fields += [f"t AS w{k}"]
    fields += [f"'' AS w{j}" for j in range(k + 1, width + 1)]
    if kind is not None:
        fields.insert(0, f"{kind} AS kind")
    return (
        f"transform(slice(toks, {k}, greatest({length}, 0)), "
        f"(t, i) -> struct({', '.join(fields)}))"
    )


# The adjacent-pair construction shared by every bigram count build — the
# LM seams and per-source collocation counts. One definition so the
# contract cannot drift.
BIGRAM_PAIRS_EXPR = ngram_window_expr(2)


def _doc_toks(docs: DataFrame, *keep: str) -> DataFrame:
    """(*keep, toks) — the shared split+filter every LM build starts from."""
    return docs.select(*keep, split_tokens().alias("toks")).filter(F.size("toks") >= 1)


def ngram_counts_df(docs: DataFrame, k: int) -> DataFrame:
    """(w1..wk, n) k-gram counts over any frame with a `text` column —
    the `lm_counts` build for k ≥ 2, and the inline build the scorer
    falls back to for orders it is not handed."""
    return (
        _doc_toks(docs)
        .select(F.explode(F.expr(ngram_window_expr(k))).alias("p"))
        .select("p.*")
        .groupBy(*_gram_cols(k))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def ngram_logprob_scores_df(
    docs: DataFrame,
    order: int,
    counts: list[DataFrame] | None = None,
    broadcast_lm: bool = True,
) -> DataFrame:
    """Per-document mean log10 probability under an interpolated order-k
    LM trained on any (doc_id, text) frame itself — the CCNet/KenLM
    perplexity-filter shape (build LM → score every doc → threshold the
    tail; low mean log-prob = rare/incoherent token sequences). The
    model is deleted interpolation over the corpus's own counts:

        P₁(w)      = n(w)/N
        P_k(w1..wk) = λ_k·n(w1..wk)/n(w1..wk−1) + (1−λ_k)·P_(k−1)(w2..wk)

    (λ₂=0.75 λ₃=0.6 λ₄=0.5 λ₅=0.4, `LM_LAMBDAS`). Token t of a doc scores
    P_min(t, k) over the window ending at it, so a doc shorter than k
    degrades to the lower orders and n_tokens = the doc's token count.
    Every term is a count ratio, so the model is engine-agnostic and
    DuckDB-oracle-checkable, unlike a smoothed KenLM binary.

    `counts[j-1]` may carry the (w1..wj, n) table of order j (the shared
    `lm_counts` seams); orders it does not cover are counted inline.

    Plan (all JVM): each order's DISTINCT grams are scored once against
    the count tables (vocabulary-bounded joins), the per-order tables
    union into ONE (kind, w1..wk)-keyed lookup, and one in-array
    expression over the single document scan emits every position's
    contribution (kind j−1 = the doc's first j-gram for j < k, kind k−1 =
    every k-gram window) — one explode, one join, one groupBy(doc_id).

    `broadcast_lm` is the scale switch (the BM25 df/idf convention): at
    test/benchmark vocab the count tables are KB-scale, so every scoring
    join is hinted broadcast. Above executor-memory vocab (a real
    web-corpus 5-gram table is tens of GB) pass False and the same joins
    run as keyed shuffle joins on the n-gram — no driver state, no
    collect (the 1-row corpus total stays broadcast; it never grows).
    Both modes are plan-asserted and result-equality-pinned in
    tests/test_plans.py."""
    if not 1 <= order <= LM_MAX_ORDER:
        raise ValueError(f"LM order must be in 1..{LM_MAX_ORDER}, got {order}")
    hint = F.broadcast if broadcast_lm else (lambda f: f)
    counts = list(counts or [])
    counts += [ngram_counts_df(docs, j) for j in range(len(counts) + 1, order + 1)]
    total = counts[0].agg(F.sum("n").alias("total"))

    def n_col(s: int, e: int) -> str:  # count column of the gram ws..we
        return f"n{s}_{e}"

    # Every read of a count table renames ALL its columns (keys to c1..ck),
    # so the two reads of one table differ only in alias names, which
    # exchange reuse ignores: each table is broadcast (or shuffled) once.
    def gram(m: int, s: int) -> DataFrame:  # order-m table keyed cs..c(s+m-1)
        return counts[m - 1].select(
            *[F.col(f"w{j}").alias(f"c{s + j - 1}") for j in range(1, m + 1)],
            F.col("n").alias(n_col(s, s + m - 1)),
        )

    lookups = []
    for j in range(1, order + 1):
        # the chain for P_j(w1..wj) reads, for each lower order m, the
        # context m-gram ending at w(j-1) and the backoff m-gram ending at wj
        scored = gram(j, 1)
        for m in range(j - 1, 0, -1):
            for s in (j - m, j - m + 1):
                scored = scored.join(
                    hint(gram(m, s)), [f"c{i}" for i in range(s, s + m)]
                )
        p = F.col(n_col(j, j)) / F.col("total")
        for m in range(2, j + 1):
            s = j - m + 1
            lam = LM_LAMBDAS[m]
            p = F.lit(lam) * (F.col(n_col(s, j)) / F.col(n_col(s, j - 1))) + F.lit(
                1 - lam
            ) * p
        lookups.append(
            scored.join(F.broadcast(total)).select(
                F.lit(j - 1).alias("kind"),
                *[F.col(f"c{i}").alias(f"w{i}") for i in range(1, j + 1)],
                *[F.lit("").alias(f"w{i}") for i in range(j + 1, order + 1)],
                F.log10(p).alias("lp"),
            )
        )
    lm_all = reduce(DataFrame.unionByName, lookups)
    windows = [
        ngram_window_expr(j, first_only=j < order, kind=j - 1, width=order)
        for j in range(1, order + 1)
    ]
    contribs = (
        _doc_toks(docs, "doc_id")
        .select("doc_id", F.explode(F.expr(f"concat({', '.join(windows)})")).alias("p"))
        .select("doc_id", "p.*")
    )
    return (
        contribs.join(hint(lm_all), ["kind", *_gram_cols(order)])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("lp"), 6).alias("mean_logp"),
        )
    )


ZIPF_TOP_K = 100  # head-of-distribution ranks used for the log-log fit


def zipf_fit_by_source(
    spark: SparkSession, sf_dir: str, k: int = ZIPF_TOP_K
) -> DataFrame:
    """Per-source Zipf fit: the least-squares slope/intercept/R^2 of
    ln(frequency) on ln(rank) over the source's top-k tokens — natural
    text sits near slope -1 with high R^2, while templated or
    machine-generated sources flatten or kink the curve. The
    distributional health check a curation dashboard shows next to the
    Heaps-law vocab_growth curve (same family, other axis).

    Plan: ONE (source, token) count aggregate with map-side partials;
    the per-source top-k is a rank window pruned by WindowGroupLimit
    (never materializes the full per-source vocabulary); the fit itself
    is Spark's built-in regr_* aggregates over k rows per source — no
    collect, no UDF. Batch-only by design: the per-source rank
    window needs the source's full frequency table, so a dashboard
    re-runs this fit on a schedule over the staged count table rather
    than maintaining it incrementally. At real vocab the count table is the only big
    intermediate, and it's exactly the table vocab_topk/BM25 already
    stage."""
    from .sketch import source_token_counts_frame

    counts = source_token_counts_frame(spark, sf_dir).select(
        "source", "token", F.col("n_st").alias("n")
    )
    return _zipf_fit_from_counts(counts, k)


def zipf_fit_df(docs: DataFrame, k: int = ZIPF_TOP_K) -> DataFrame:
    """`zipf_fit_by_source` core over any (source, text) frame."""
    toks = docs.select(
        "source",
        F.explode(split_tokens()).alias("token"),
    )
    counts = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("n"))
    return _zipf_fit_from_counts(counts, k)


def _zipf_fit_from_counts(counts: DataFrame, k: int) -> DataFrame:
    """Zipf fit over a prebuilt (source, token, n) count table — the
    catalog entry feeds it the `source_token_counts` seam."""
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("token"))
    head = counts.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    fit = head.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.expr("regr_slope(ln(n), ln(rank))").alias("slope"),
        F.expr("regr_intercept(ln(n), ln(rank))").alias("intercept"),
        F.expr("regr_r2(ln(n), ln(rank))").alias("r2"),
    )
    return fit.select(
        "source",
        "n_terms",
        F.round("slope", 4).alias("zipf_slope"),
        F.round("intercept", 4).alias("zipf_intercept"),
        F.round("r2", 4).alias("zipf_r2"),
    )


def corpus_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation dashboard rollup: per source — document count, token
    totals and mean, language spread, and distinct-content count (its
    gap vs n_docs is the exact-dup rate). The first query anyone runs
    before AND after every curation stage to see what the stage did.

    Plan: one groupBy(source) with map-side partials; the distinct
    counts expand to the standard two-phase distinct aggregate. All JVM.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(split_tokens())
    return (
        docs.select(
            "source",
            "lang",
            n_tokens.alias("n_tokens"),
            F.md5(F.col("text").cast("binary")).alias("content_hash"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("mean_tokens"),
            F.countDistinct("lang").alias("n_langs"),
            F.countDistinct("content_hash").alias("n_distinct_texts"),
        )
    )


def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus-drift metric: KL(P_source ‖ P_corpus) over the
    unigram token distributions, plus the token mass behind it. High KL
    marks a source whose vocabulary departs from the corpus mix — the
    number a curation dashboard watches when a new crawl lands (and the
    quantitative form of "this source changed under us").

        KL(s) = Σ_t p(t|s) · ln(p(t|s) / q(t)),
        p(t|s) = n(t,s)/n(s),  q(t) = n(t)/N

    Every source's support is a subset of the corpus support by
    construction (q(t) = 0 ⇒ p(t|s) = 0), so the sum is always finite.

    Plan: ONE groupBy(source, token) over the exploded stream,
    MATERIALIZED (localCheckpoint) because three derived aggregates read
    it — the corpus distribution (token-keyed), per-source totals, and
    the grand total; unmaterialized, Spark re-executes scan→explode→agg
    under each (the exchanges differ in key, so ReusedExchange never
    fires — caught by the plan audit in test_plans.py). The KL sum is
    one groupBy(source). All JVM, all count ratios → full DuckDB oracle.
    """
    from .sketch import source_token_counts_frame

    return _kl_from_counts(source_token_counts_frame(spark, sf_dir))


def source_kl_divergence_df(docs: DataFrame) -> DataFrame:
    """`source_kl_divergence` core over any (source, text) frame (the
    catalog entry feeds `_kl_from_counts` the shared seam instead)."""
    toks = docs.select(
        "source",
        F.explode(split_tokens()).alias("token"),
    )
    st = (
        toks.groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("n_st"))
        .localCheckpoint()
    )
    return _kl_from_counts(st)


def _kl_from_counts(st: DataFrame) -> DataFrame:
    """KL report over a MATERIALIZED (source, token, n_st) count table —
    three derived aggregates read it (corpus / per-source / grand
    totals), so the input must already be checkpointed or seam-backed."""
    corpus = st.groupBy("token").agg(F.sum("n_st").alias("n_t"))
    totals = st.groupBy("source").agg(F.sum("n_st").alias("n_s"))
    grand = corpus.agg(F.sum("n_t").alias("n"))
    return (
        st.join(F.broadcast(corpus), "token")
        .join(F.broadcast(totals), "source")
        .join(F.broadcast(grand))
        .groupBy("source")
        .agg(
            F.round(
                F.sum(
                    (F.col("n_st") / F.col("n_s"))
                    * F.log(
                        (F.col("n_st") / F.col("n_s"))
                        / (F.col("n_t") / F.col("n"))
                    )
                ),
                6,
            ).alias("kl_divergence"),
            F.max("n_s").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_tokens"),
        )
    )


PERPLEXITY_K = 3  # CCNet's head / middle / tail

# The bucket stages RANK on the LM score, so the rank key must live on
# the exact integer lattice (DECISIONS #12; closes DIVERGENCES #8):
# mean_logp is already rounded-6, so ×1e6 → bigint is order-identical.
_LOGP_LATTICE_SQL = "CAST(ROUND(mean_logp * 1000000) AS BIGINT)"


def _logp_lattice():  # lazy: F.expr needs an active session
    return F.expr(_LOGP_LATTICE_SQL)


def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's final step: split the corpus into head/middle/tail by LM
    score — NTILE(PERPLEXITY_K) over `bigram_logprob_scores` descending (bucket 1 =
    most fluent). Head goes straight to training, middle gets sampled,
    tail gets dropped or LM-filtered harder.

    This catalog/oracle form uses a global NTILE window (single-reducer
    sort — fine to ~100M scored docs, and the oracle gate needs the
    exact ANSI NTILE semantics); `perplexity_buckets_distributed` is the
    100 TB twin: identical assignment, no single-reducer stage.

    Rank key (r11, closing DIVERGENCES #8): the ×1e6 bigint lattice of
    the rounded-6 score — identical order to the rounded double by
    construction, engine-stable per the float-discipline rule for
    RANKED values (DECISIONS #12).
    """
    return _ntile_buckets(lm_scored_frame(spark, sf_dir, 2))


def perplexity_buckets_ngram5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`perplexity_buckets` under the 5-GRAM LM — the order CCNet's
    KenLM models actually run. Same NTILE(PERPLEXITY_K) head/middle/tail split over
    the order-5 scored-frame seam (shared with `ngram5_logprob_scores`;
    its order-1..4 count seams are the ones the lower orders read). The
    100 TB form swaps the window for the `perplexity_buckets_distributed`
    two-pass rank — the assignment arithmetic is order-based and
    identical. Rank key on the ×1e6 bigint lattice (DIVERGENCES #8
    closure, r11)."""
    return _ntile_buckets(lm_scored_frame(spark, sf_dir, 5))


def _ntile_buckets(scored: DataFrame) -> DataFrame:
    w = Window.orderBy(_logp_lattice().desc(), F.col("doc_id").asc())
    return scored.select(
        "doc_id", "mean_logp", F.ntile(PERPLEXITY_K).over(w).alias("bucket")
    )


def perplexity_buckets_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`perplexity_buckets` without the single-reducer window — the
    two-pass global rank of `plans/rank.py` over score order
    (logp_q DESC, doc_id — the ×1e6 lattice of the rounded score,
    DIVERGENCES #8), then the exact ANSI NTILE arithmetic on the rank —
    the first n % k buckets get ceil(n/k) rows, the rest floor(n/k).
    Value-identical to the window form (shared oracle + equality test).
    """
    # The scored frame arrives persisted AND materialized from the shared
    # seam (`lm_scored_frame`), so the range partitioner's bound sampling
    # reads cached partitions instead of executing the bigram-LM plan a
    # second time (the job the per-call localCheckpoint did before r6).
    scored = lm_scored_frame(spark, sf_dir, 2).withColumn(
        "logp_q", _logp_lattice()  # lattice rank key (DIVERGENCES #8)
    )
    ranked, n = global_rank(
        scored, [F.col("logp_q").desc(), F.col("doc_id").asc()], "rk"
    )
    q, rem = divmod(n, PERPLEXITY_K)
    boundary = (q + 1) * rem
    # exact ANSI NTILE arithmetic, integer `div` (no float in the path)
    bucket = F.expr(
        f"CASE WHEN rk <= {boundary} THEN (rk - 1) div {q + 1} + 1 "
        f"ELSE {rem} + (rk - {boundary} - 1) div {max(q, 1)} + 1 END"
    )
    return ranked.select(
        "doc_id", "mean_logp", bucket.cast("int").alias("bucket")
    )


def curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end composite of the round's curation stages — the
    `training_corpus` pattern applied to sub-document hygiene: paragraph-
    dedup every document (chunk-level first-occurrence-wins, rebuilt
    text), rejoin source/lang, then admit rebuilt docs under the
    per-source TOKEN budget in md5 order. What remains is the corpus a
    downstream tokenizer actually consumes: no repeated chunk anywhere,
    no source over budget.

    Each stage is the already-certified operator (`paragraph_dedup_df`,
    the `domain_token_quota` window) composed as DataFrames; the oracle
    composes the same stages as CTEs from their own SQL fragments — so a
    green hash certifies the PIPELINE, not just its members. Token
    counts are recomputed on the REBUILT text (dedup changes lengths),
    which is the point of running quota after dedup.
    """
    docs = load_table(spark, sf_dir, "documents")
    # rides the shared chunk-dedup seam — same frame `paragraph_dedup` serves
    rebuilt = paragraph_dedup(spark, sf_dir).select("doc_id", "text")
    docs2 = rebuilt.join(docs.select("doc_id", "source", "lang"), "doc_id")
    n_tokens = F.size(split_tokens())
    key = F.md5(F.col("text").cast("binary"))
    w = (
        Window.partitionBy("source")
        .orderBy(key.asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs2.select(
            "doc_id",
            "source",
            "lang",
            n_tokens.alias("n_tokens"),
            F.sum(n_tokens).over(w).alias("cum_tokens"),
        )
        .filter(F.col("cum_tokens") - F.col("n_tokens") < TOKEN_QUOTA)
        .select("doc_id", "source", "lang", "n_tokens", "cum_tokens")
    )


def source_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE per-source curation dashboard: one wide row per source joining
    the corpus rollup (volume, dup rate), the quality gate pass rate,
    unigram-KL drift vs the corpus, the Zipf rank-frequency fit, the HLL
    distinct-token estimate, and the bootstrap CI on mean length — every
    number a data-mix owner reads before touching the mixture weights,
    in one frame (the materialized "sources" dashboard table the serving
    layer would refresh).

    Plan: each member is its own aggregate (they already share scans and
    seams where profitable); the joins are broadcasts of O(sources)-row
    frames — the composition itself adds no data-volume shuffle. The
    oracle is composed from the members' own SQL, so this entry re-pins
    every member's values a second time through the join.

    Joins are LEFT from `corpus_stats_by_source` — the complete source
    list — so a source that drops out of a member aggregate (e.g. all
    its documents are empty/zero-token, which removes it from the KL,
    Zipf, and HLL frames) surfaces as a row with null metric cells
    instead of silently vanishing from the dashboard: a monitoring
    rollup must show the degenerate source, not hide it."""
    from ..extensions.sketch import bootstrap_source_stats, hll_distinct_by_source
    from ..functions.text import quality_by_source

    stats = corpus_stats_by_source(spark, sf_dir)
    qual = quality_by_source(spark, sf_dir).select("source", "gate_pass_rate")
    kl = source_kl_divergence(spark, sf_dir).select(
        "source", "kl_divergence", "n_distinct_tokens"
    )
    zipf = zipf_fit_by_source(spark, sf_dir).select(
        "source", "zipf_slope", "zipf_r2"
    )
    hll = hll_distinct_by_source(spark, sf_dir).select(
        "source", F.col("hll_est").alias("distinct_tokens_est")
    )
    boot = bootstrap_source_stats(spark, sf_dir).select("source", "ci_lo", "ci_hi")
    out = stats
    for right in (qual, kl, zipf, hll, boot):
        out = out.join(F.broadcast(right), "source", "left")
    return out


PPL_KEEP_BUCKETS = 2  # keep CCNet's head+middle buckets, drop the tail


def curated_corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pipeline over the ROUND-7 gates, chained in the order a
    real pre-training data build runs them (`training_corpus` composes
    the earlier-generation chain):

        boilerplate filter   (all-occurrence removal, C4/RefinedWeb)
      → CDC-chunk dedup      (first-occurrence-wins over content-defined
                              boundaries, on the boilerplate-scrubbed text)
      → 5-gram perplexity    (keep CCNet head+middle buckets; scores come
        gate                  from the shared order-5 `lm_scored_frame` seam —
                              the LM is trained on and scores the ORIGINAL
                              crawl text, CCNet's reference-model pattern,
                              so the gate is a doc_id-keyed filter)
      → decontamination      (drop probe docs and n-gram-overlap hits —
                              scored on ORIGINAL text: chunk removal can
                              only split shingles, so original-text
                              overlap is the conservative side)
      → train/val/test split (content-keyed on the REBUILT text via
                              `_split_assignment` — the same single
                              source of truth `dataset_splits` projects)
      → sequence packing     (greedy per-bucket packs over REBUILT token
                              counts, `pack_sequences_df`)

    Output: one row per surviving document — (doc_id, n_tokens,
    ppl_bucket, split, pack_id), ready for shard writing.

    Every stage is the already-certified operator's df-core; the oracle
    chains the members' own SQL builders as CTEs — a green hash
    certifies the COMPOSITION (stage order, rebuilt-text handoffs, gate
    keys), not just the members.

    Scale shape: the text-rewriting stages keep their certified shapes
    (digest-keyed chunk shuffles, broadcast boilerplate anti-join); the
    gates are doc_id-keyed joins co-partitioned end to end; packing
    shuffles O(docs) id+count rows across `PACK_BUCKETS` groups. No new
    shuffle class is introduced by the composition itself.

    Batch-only by design: the perplexity gate is a corpus-wide quantile
    split, decontamination compares against the full probe index, and
    packing folds a global document order — all statements about a
    frozen corpus snapshot, re-run on each new snapshot — the same
    division of labor as the bootstrap/Zipf batch-only notes."""
    from ..functions.text import _split_assignment
    from .training import PROBE_MAX_DOC_ID, decontaminate, pack_sequences_df

    bp = _boilerplate_filtered_frame(spark, sf_dir).select("doc_id", "text")
    # r14: the Rabin-Karp boundary expression is the chain's heaviest
    # map-side work and the rebuild consumes its output TWICE (digest
    # decision + text join) — checkpoint the bounded O(docs)
    # chunk-array frame so the boundary scan runs once per invocation
    # (the seam-shared cdc_chunk_dedup already reads a checkpointed
    # chunk frame; this is the same move for curated's scrubbed-text
    # generation of it).
    cdc_arrs = _cdc_chunk_frame(bp).localCheckpoint()
    cdc = _chunk_first_occurrence_rebuild(cdc_arrs).select("doc_id", "text")
    gate = (
        perplexity_buckets_ngram5(spark, sf_dir)
        .filter(F.col("bucket") <= PPL_KEEP_BUCKETS)
        .select("doc_id", F.col("bucket").cast("long").alias("ppl_bucket"))
    )
    bad = decontaminate(spark, sf_dir).filter("contaminated").select("doc_id")
    kept = (
        cdc.join(gate, "doc_id")
        .filter(F.col("doc_id") >= PROBE_MAX_DOC_ID)
        .join(bad, "doc_id", "left_anti")
    )
    n_tokens = F.size(split_tokens()).cast("long")
    # O(surviving docs) × 4 narrow columns, consumed by BOTH the packing
    # stage and the final join — checkpoint so the whole gate chain
    # (boilerplate → CDC → ppl gate → decontam → split) runs once, not
    # twice (the un-checkpointed plan duplicated it under each side).
    sized = _split_assignment(kept).select(
        "doc_id", "ppl_bucket", "split", n_tokens.alias("n_tokens")
    ).localCheckpoint()
    packed = pack_sequences_df(sized.select("doc_id", "n_tokens")).select(
        "doc_id", "pack_id"
    )
    return sized.join(packed, "doc_id").select(
        "doc_id", "n_tokens", "ppl_bucket", "split", "pack_id"
    )


ORACLE_SQL: dict[str, str] = {
    "paragraph_dedup": f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        chunks AS (
            SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                   array_to_string(
                       toks[i * {CHUNK_TOKENS} + 1 : (i + 1) * {CHUNK_TOKENS}],
                       ' ') AS chunk,
                   doc_id * 1048576 + i AS ord
            FROM w, LATERAL (
                SELECT unnest(range(CAST(ceil(len(toks) / {CHUNK_TOKENS}.0) AS BIGINT))) AS i
            ) t
        ),
        winners AS (SELECT chunk, MIN(ord) AS win_ord FROM chunks GROUP BY chunk),
        kept AS (
            SELECT c.doc_id, c.chunk_idx, c.chunk
            FROM chunks c JOIN winners x
              ON c.chunk = x.chunk AND c.ord = x.win_ord
        ),
        sizes AS (
            SELECT doc_id, COUNT(1) AS n_chunks FROM chunks GROUP BY doc_id
        ),
        rebuilt AS (
            SELECT doc_id, COUNT(1) AS n_kept,
                   string_agg(chunk, ' ' ORDER BY chunk_idx) AS text
            FROM kept GROUP BY doc_id
        )
        SELECT r.doc_id, s.n_chunks, r.n_kept, r.text
        FROM rebuilt r JOIN sizes s ON r.doc_id = s.doc_id
    """,
    "domain_quota_sample": f"""
        SELECT doc_id, source, lang, sample_key FROM (
            SELECT doc_id, source, lang, md5(text) AS sample_key,
                   ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY md5(text) ASC, doc_id ASC
                   ) AS rk
            FROM documents
        ) WHERE rk <= {DOMAIN_QUOTA}
    """,
    "corpus_mix": f"""
        WITH weighted AS (
            SELECT doc_id, source,
                   CASE source
                       {' '.join(f"WHEN '{s}' THEN {w}" for s, w in MIX_WEIGHTS.items())}
                       ELSE {DEFAULT_MIX_WEIGHT}
                   END AS w
            FROM documents
        ),
        gated AS (
            SELECT doc_id, source,
                   CAST(FLOOR(w) AS INT) AS full_epochs,
                   CASE WHEN CAST(
                            ('0x' || substring(
                                md5('{MIX_SEED}' || ':' || CAST(doc_id AS VARCHAR)
                                    || ':' || CAST(CAST(FLOOR(w) AS INT) AS VARCHAR)),
                                1, 4)) AS INT)
                          < CAST(ROUND((w - FLOOR(w)) * 65536) AS INT)
                        THEN 1 ELSE 0 END AS extra
            FROM weighted
        )
        SELECT doc_id, source, CAST(e AS INT) AS epoch
        FROM gated, LATERAL (
            SELECT unnest(range(full_epochs + extra)) AS e
        ) t
    """,
    "corpus_stats_by_source": """
        SELECT source, COUNT(1) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               ROUND(AVG(n_tokens), 4) AS mean_tokens,
               COUNT(DISTINCT lang) AS n_langs,
               COUNT(DISTINCT content_hash) AS n_distinct_texts
        FROM (
            SELECT source, lang,
                   len(list_filter(string_split(text, ' '), t -> t <> ''))
                       AS n_tokens,
                   md5(text) AS content_hash
            FROM documents
        )
        GROUP BY source
    """,
    "domain_token_quota": f"""
        SELECT doc_id, source, n_tokens, cum_tokens FROM (
            SELECT doc_id, source, n_tokens,
                   CAST(SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY md5(text) ASC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_tokens
            FROM (
                SELECT doc_id, source, text,
                       len(list_filter(string_split(text, ' '), t -> t <> ''))
                           AS n_tokens
                FROM documents
            )
        ) WHERE cum_tokens - n_tokens < {TOKEN_QUOTA}
    """,
    "corpus_mix_tokens": f"""
        WITH d AS (
            SELECT doc_id, source,
                   len(list_filter(string_split(text, ' '), t -> t <> ''))
                       AS n_tokens
            FROM documents
        ),
        wtd AS (
            SELECT *,
                   CASE source
                       {' '.join(f"WHEN '{s}' THEN {w}" for s, w in MIX_WEIGHTS.items())}
                       ELSE {DEFAULT_MIX_WEIGHT}
                   END AS w
            FROM d
        ),
        tot AS (SELECT source, SUM(n_tokens) AS tot FROM d GROUP BY source),
        full_epochs AS (
            SELECT doc_id, source, CAST(e AS INT) AS epoch, n_tokens
            FROM wtd, LATERAL (
                SELECT unnest(range(CAST(FLOOR(w) AS BIGINT))) AS e
            ) t
        ),
        frac AS (
            SELECT wtd.doc_id, wtd.source,
                   CAST(FLOOR(wtd.w) AS INT) AS epoch, wtd.n_tokens,
                   SUM(wtd.n_tokens) OVER (
                       PARTITION BY wtd.source
                       ORDER BY md5('{MIX_SEED}' || ':'
                                    || CAST(wtd.doc_id AS VARCHAR) || ':'
                                    || CAST(CAST(FLOOR(wtd.w) AS INT) AS VARCHAR))
                                    ASC,
                                wtd.doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum,
                   (wtd.w - FLOOR(wtd.w)) * t.tot AS target
            FROM wtd JOIN tot t ON wtd.source = t.source
            WHERE wtd.w > FLOOR(wtd.w)
        )
        SELECT doc_id, source, epoch, n_tokens FROM full_epochs
        UNION ALL
        SELECT doc_id, source, epoch, n_tokens FROM frac
        WHERE cum - n_tokens < target
    """,
    "bigram_logprob_scores": f"""
        WITH w AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents
        ),
        w1 AS (SELECT * FROM w WHERE len(toks) >= 1),
        toks AS (SELECT doc_id, unnest(toks) AS token FROM w1),
        pairs AS (
            SELECT doc_id, toks[CAST(i AS BIGINT)] AS w1,
                   toks[CAST(i AS BIGINT) + 1] AS w2
            FROM w1, LATERAL (SELECT unnest(range(1, len(toks))) AS i) t
        ),
        uni AS (SELECT token, COUNT(1) AS n FROM toks GROUP BY token),
        tot AS (SELECT SUM(n) AS total FROM uni),
        first_lp AS (
            SELECT f.doc_id, log10(u.n / t.total) AS lp
            FROM (SELECT doc_id, toks[1] AS token FROM w1) f
            JOIN uni u ON f.token = u.token CROSS JOIN tot t
        ),
        big AS (SELECT w1, w2, COUNT(1) AS n12 FROM pairs GROUP BY w1, w2),
        pair_lp AS (
            SELECT p.doc_id,
                   log10({LM_LAMBDA} * (b.n12 / u1.n)
                         + {1 - LM_LAMBDA} * (u2.n / t.total)) AS lp
            FROM pairs p
            JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
            JOIN uni u1 ON p.w1 = u1.token
            JOIN uni u2 ON p.w2 = u2.token
            CROSS JOIN tot t
        )
        SELECT doc_id, COUNT(1) AS n_tokens, ROUND(AVG(lp), 6) AS mean_logp
        FROM (SELECT * FROM first_lp UNION ALL SELECT * FROM pair_lp)
        GROUP BY doc_id
    """,
    "unigram_logprob_scores": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        t2 AS (SELECT * FROM toks WHERE token <> ''),
        lm AS (SELECT token, COUNT(1) AS n FROM t2 GROUP BY token),
        total AS (SELECT SUM(n) AS total FROM lm),
        lmp AS (
            SELECT token, log10(n / total) AS logp FROM lm CROSS JOIN total
        )
        SELECT t2.doc_id, COUNT(1) AS n_tokens,
               ROUND(AVG(lmp.logp), 6) AS mean_logp
        FROM t2 JOIN lmp ON t2.token = lmp.token
        GROUP BY t2.doc_id
    """,
}

# The bucket split shares one oracle for both plan forms: the window form
# matches by construction, the distributed form by exact-NTILE-arithmetic
# equivalence (plus the equality test in test_curation.py).
_PERPLEXITY_ORACLE = f"""
    SELECT doc_id, mean_logp,
           NTILE({PERPLEXITY_K}) OVER (
               ORDER BY {_LOGP_LATTICE_SQL} DESC, doc_id ASC
           ) AS bucket
    FROM ({ORACLE_SQL["bigram_logprob_scores"]})
"""
ORACLE_SQL["temperature_mix_weights"] = f"""
    WITH per AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(list_filter(string_split(text, ' '),
                                        t -> t <> ''))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1
    ),
    g AS (
        SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tot,
               SUM(POWER(n_tokens, {MIX_TEMPERATURE_ALPHA})) AS ptot
        FROM per
    )
    SELECT source, n_docs, n_tokens,
           ROUND(n_tokens / tot, 6) AS raw_share,
           ROUND(POWER(n_tokens, {MIX_TEMPERATURE_ALPHA}) / ptot, 6) AS temp_share,
           ROUND((POWER(n_tokens, {MIX_TEMPERATURE_ALPHA}) / ptot)
                 / (n_tokens / tot), 4) AS boost
    FROM per, g
"""

ORACLE_SQL["source_kl_divergence"] = """
    WITH toks AS (
        SELECT source, unnest(list_filter(string_split(text, ' '),
                                          t -> t <> '')) AS token
        FROM documents
    ),
    st AS (SELECT source, token, COUNT(1) AS n_st FROM toks GROUP BY source, token),
    corpus AS (SELECT token, SUM(n_st) AS n_t FROM st GROUP BY token),
    totals AS (SELECT source, SUM(n_st) AS n_s FROM st GROUP BY source),
    grand AS (SELECT SUM(n_t) AS n FROM corpus)
    SELECT st.source,
           ROUND(SUM((st.n_st / t.n_s)
                     * ln((st.n_st / t.n_s) / (c.n_t / g.n))), 6) AS kl_divergence,
           CAST(MAX(t.n_s) AS BIGINT) AS n_tokens,
           CAST(COUNT(1) AS BIGINT) AS n_distinct_tokens
    FROM st
    JOIN corpus c USING (token)
    JOIN totals t USING (source)
    CROSS JOIN grand g
    GROUP BY st.source
"""

ORACLE_SQL["trigram_logprob_scores"] = f"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS toks
        FROM documents
    ),
    w1 AS (SELECT * FROM w WHERE len(toks) >= 1),
    toks AS (SELECT doc_id, unnest(toks) AS token FROM w1),
    pairs AS (
        SELECT doc_id, toks[CAST(i AS BIGINT)] AS w1,
               toks[CAST(i AS BIGINT) + 1] AS w2
        FROM w1, LATERAL (SELECT unnest(range(1, len(toks))) AS i) t
    ),
    triples AS (
        SELECT doc_id, toks[CAST(i AS BIGINT)] AS w1,
               toks[CAST(i AS BIGINT) + 1] AS w2,
               toks[CAST(i AS BIGINT) + 2] AS w3
        FROM w1, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) t
    ),
    uni AS (SELECT token, COUNT(1) AS n FROM toks GROUP BY token),
    tot AS (SELECT SUM(n) AS total FROM uni),
    big AS (SELECT w1, w2, COUNT(1) AS n12 FROM pairs GROUP BY w1, w2),
    tri AS (SELECT w1, w2, w3, COUNT(1) AS n123 FROM triples GROUP BY w1, w2, w3),
    first_lp AS (
        SELECT f.doc_id, log10(u.n / t.total) AS lp
        FROM (SELECT doc_id, toks[1] AS token FROM w1) f
        JOIN uni u ON f.token = u.token CROSS JOIN tot t
    ),
    second_lp AS (
        SELECT s.doc_id,
               log10({LM_LAMBDA} * (b.n12 / u1.n)
                     + {1 - LM_LAMBDA} * (u2.n / t.total)) AS lp
        FROM (SELECT doc_id, toks[1] AS w1, toks[2] AS w2
              FROM w1 WHERE len(toks) >= 2) s
        JOIN big b ON s.w1 = b.w1 AND s.w2 = b.w2
        JOIN uni u1 ON s.w1 = u1.token
        JOIN uni u2 ON s.w2 = u2.token
        CROSS JOIN tot t
    ),
    tri_lp AS (
        SELECT p.doc_id,
               log10({LM_LAMBDA3} * (tr.n123 / b12.n12)
                     + {1 - LM_LAMBDA3}
                       * ({LM_LAMBDA} * (b23.n12 / u2.n)
                          + {1 - LM_LAMBDA} * (u3.n / t.total))) AS lp
        FROM triples p
        JOIN tri tr ON p.w1 = tr.w1 AND p.w2 = tr.w2 AND p.w3 = tr.w3
        JOIN big b12 ON p.w1 = b12.w1 AND p.w2 = b12.w2
        JOIN big b23 ON p.w2 = b23.w1 AND p.w3 = b23.w2
        JOIN uni u2 ON p.w2 = u2.token
        JOIN uni u3 ON p.w3 = u3.token
        CROSS JOIN tot t
    )
    SELECT doc_id, COUNT(1) AS n_tokens, ROUND(AVG(lp), 6) AS mean_logp
    FROM (SELECT * FROM first_lp UNION ALL SELECT * FROM second_lp
          UNION ALL SELECT * FROM tri_lp)
    GROUP BY doc_id
"""

# Shared CTE prefix: the content-defined chunk table, mirroring
# _cdc_chunk_frame's arithmetic term for term (DuckDB lists are 1-based
# where Spark arrays are 0-based — the index shifts below compensate).
# Parameterized by source table/CTE so curated_corpus_v2 can run the SAME
# rule over a pipeline stage — one source of truth, no drift.
def _cdc_chunk_cte(src: str = "documents") -> str:
    return f"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS toks
        FROM {src}
        WHERE len(list_filter(string_split(text, ' '), t -> t <> '')) >= 1
    ),
    v AS (
        SELECT doc_id, toks,
               list_transform(toks,
                   t -> CAST('0x' || substring(md5(t), 1, 8) AS BIGINT)) AS vals
        FROM w
    ),
    b AS (
        SELECT doc_id, toks,
               CASE WHEN len(toks) >= {CDC_W} THEN
                   list_filter(range({CDC_W}, len(toks) + 1), i ->
                       ((list_sum(list_transform(range(1, {CDC_W} + 1), j ->
                           (vals[CAST(i - j + 1 AS BIGINT)]
                            * ([{", ".join(str(c) for c in CDC_C)}])[CAST(j AS BIGINT)])
                           % {CDC_M}))
                         % {CDC_M}) % {CDC_MASK}) = 0)
               ELSE [] END AS bounds
        FROM v
    ),
    e AS (
        SELECT doc_id, toks,
               list_sort(list_distinct(list_prepend(CAST(0 AS BIGINT),
                   list_append(bounds, CAST(len(toks) AS BIGINT))))) AS ext
        FROM b
    ),
    c AS (
        SELECT doc_id, CAST(k - 1 AS BIGINT) AS chunk_idx,
               array_to_string(
                   toks[CAST(ext[CAST(k AS BIGINT)] + 1 AS BIGINT)
                        : CAST(ext[CAST(k + 1 AS BIGINT)] AS BIGINT)],
                   ' ') AS chunk
        FROM e, LATERAL (SELECT unnest(range(1, len(ext))) AS k) t
    )
"""


def _cdc_dedup_sql(src: str = "documents") -> str:
    """First-occurrence-wins CDC dedup + rebuild over (doc_id, text) in
    `src` — the cdc_chunk_dedup oracle, reusable as a pipeline stage."""
    return f"""
    {_cdc_chunk_cte(src)},
    ords AS (
        SELECT doc_id, chunk_idx, chunk,
               doc_id * 1048576 + chunk_idx AS ord
        FROM c
    ),
    winners AS (SELECT chunk, MIN(ord) AS win_ord FROM ords GROUP BY chunk),
    kept AS (
        SELECT o.doc_id, o.chunk_idx, o.chunk
        FROM ords o JOIN winners x
          ON o.chunk = x.chunk AND o.ord = x.win_ord
    ),
    sizes AS (
        SELECT doc_id, COUNT(1) AS n_chunks FROM ords GROUP BY doc_id
    ),
    rebuilt AS (
        SELECT doc_id, COUNT(1) AS n_kept,
               string_agg(chunk, ' ' ORDER BY chunk_idx) AS text
        FROM kept GROUP BY doc_id
    )
    SELECT r.doc_id, s.n_chunks, r.n_kept, r.text
    FROM rebuilt r JOIN sizes s ON r.doc_id = s.doc_id
"""


ORACLE_SQL["cdc_chunks"] = f"""
    {_cdc_chunk_cte()}
    SELECT doc_id, chunk_idx,
           CAST(len(list_filter(string_split(chunk, ' '), t -> t <> ''))
               AS BIGINT) AS chunk_tokens,
           md5(chunk) AS chunk_hash
    FROM c
"""

ORACLE_SQL["cdc_chunk_dedup"] = _cdc_dedup_sql()


def _boiler_chunk_cte(src: str = "documents") -> str:
    return f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM {src}
    ),
    chunks AS (
        SELECT doc_id, CAST(i AS INT) AS chunk_idx,
               array_to_string(
                   toks[i * {CHUNK_TOKENS} + 1 : (i + 1) * {CHUNK_TOKENS}],
                   ' ') AS chunk
        FROM w, LATERAL (
            SELECT unnest(range(CAST(ceil(len(toks) / {CHUNK_TOKENS}.0) AS BIGINT))) AS i
        ) t
    ),
    boiler AS (
        SELECT chunk, COUNT(DISTINCT doc_id) AS n_docs,
               COUNT(1) AS n_occurrences
        FROM chunks GROUP BY chunk
        HAVING COUNT(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
    )
"""


def _boiler_filter_sql(src: str = "documents") -> str:
    """All-occurrence boilerplate removal + rebuild over (doc_id, text)
    in `src` — the boilerplate_filtered_corpus oracle, reusable as a
    pipeline stage."""
    return f"""
    {_boiler_chunk_cte(src)},
    kept AS (
        SELECT c.doc_id, c.chunk_idx, c.chunk
        FROM chunks c
        WHERE NOT EXISTS (SELECT 1 FROM boiler b WHERE b.chunk = c.chunk)
    ),
    sizes AS (
        SELECT doc_id, COUNT(1) AS n_chunks FROM chunks GROUP BY doc_id
    ),
    rebuilt AS (
        SELECT doc_id, COUNT(1) AS n_kept,
               string_agg(chunk, ' ' ORDER BY chunk_idx) AS text
        FROM kept GROUP BY doc_id
    )
    SELECT r.doc_id, s.n_chunks, r.n_kept, r.text
    FROM rebuilt r JOIN sizes s ON r.doc_id = s.doc_id
"""


ORACLE_SQL["boilerplate_chunks"] = f"""
    {_boiler_chunk_cte()}
    SELECT chunk, n_docs, n_occurrences FROM boiler
"""

ORACLE_SQL["boilerplate_filtered_corpus"] = _boiler_filter_sql()

ORACLE_SQL["ngram5_logprob_scores"] = f"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS toks
        FROM documents
    ),
    w1 AS (SELECT * FROM w WHERE len(toks) >= 1),
    toks AS (SELECT doc_id, unnest(toks) AS token FROM w1),
    pairs AS (
        SELECT doc_id, toks[CAST(i AS BIGINT)] AS w1,
               toks[CAST(i AS BIGINT) + 1] AS w2
        FROM w1, LATERAL (SELECT unnest(range(1, len(toks))) AS i) t
    ),
    triples AS (
        SELECT doc_id, toks[CAST(i AS BIGINT)] AS w1,
               toks[CAST(i AS BIGINT) + 1] AS w2,
               toks[CAST(i AS BIGINT) + 2] AS w3
        FROM w1, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) t
    ),
    quads AS (
        SELECT doc_id, toks[CAST(i AS BIGINT)] AS w1,
               toks[CAST(i AS BIGINT) + 1] AS w2,
               toks[CAST(i AS BIGINT) + 2] AS w3,
               toks[CAST(i AS BIGINT) + 3] AS w4
        FROM w1, LATERAL (SELECT unnest(range(1, len(toks) - 2)) AS i) t
    ),
    quints AS (
        SELECT doc_id, toks[CAST(i AS BIGINT)] AS w1,
               toks[CAST(i AS BIGINT) + 1] AS w2,
               toks[CAST(i AS BIGINT) + 2] AS w3,
               toks[CAST(i AS BIGINT) + 3] AS w4,
               toks[CAST(i AS BIGINT) + 4] AS w5
        FROM w1, LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i) t
    ),
    uni AS (SELECT token, COUNT(1) AS n FROM toks GROUP BY token),
    tot AS (SELECT SUM(n) AS total FROM uni),
    big AS (SELECT w1, w2, COUNT(1) AS n12 FROM pairs GROUP BY w1, w2),
    tri AS (SELECT w1, w2, w3, COUNT(1) AS n123 FROM triples GROUP BY w1, w2, w3),
    quad AS (SELECT w1, w2, w3, w4, COUNT(1) AS n1234
             FROM quads GROUP BY w1, w2, w3, w4),
    quint AS (SELECT w1, w2, w3, w4, w5, COUNT(1) AS n12345
              FROM quints GROUP BY w1, w2, w3, w4, w5),
    first_lp AS (
        SELECT f.doc_id, log10(u.n / t.total) AS lp
        FROM (SELECT doc_id, toks[1] AS token FROM w1) f
        JOIN uni u ON f.token = u.token CROSS JOIN tot t
    ),
    second_lp AS (
        SELECT s.doc_id,
               log10({LM_LAMBDA} * (b.n12 / u1.n)
                     + {1 - LM_LAMBDA} * (u2.n / t.total)) AS lp
        FROM (SELECT doc_id, toks[1] AS w1, toks[2] AS w2
              FROM w1 WHERE len(toks) >= 2) s
        JOIN big b ON s.w1 = b.w1 AND s.w2 = b.w2
        JOIN uni u1 ON s.w1 = u1.token
        JOIN uni u2 ON s.w2 = u2.token
        CROSS JOIN tot t
    ),
    third_lp AS (
        SELECT s.doc_id,
               log10({LM_LAMBDA3} * (tr.n123 / b12.n12)
                     + {1 - LM_LAMBDA3}
                       * ({LM_LAMBDA} * (b23.n12 / u2.n)
                          + {1 - LM_LAMBDA} * (u3.n / t.total))) AS lp
        FROM (SELECT doc_id, toks[1] AS w1, toks[2] AS w2, toks[3] AS w3
              FROM w1 WHERE len(toks) >= 3) s
        JOIN tri tr ON s.w1 = tr.w1 AND s.w2 = tr.w2 AND s.w3 = tr.w3
        JOIN big b12 ON s.w1 = b12.w1 AND s.w2 = b12.w2
        JOIN big b23 ON s.w2 = b23.w1 AND s.w3 = b23.w2
        JOIN uni u2 ON s.w2 = u2.token
        JOIN uni u3 ON s.w3 = u3.token
        CROSS JOIN tot t
    ),
    fourth_lp AS (
        SELECT s.doc_id,
               log10({LM_LAMBDA4} * (q.n1234 / t123.n123)
                     + {1 - LM_LAMBDA4}
                       * ({LM_LAMBDA3} * (t234.n123 / b23.n12)
                          + {1 - LM_LAMBDA3}
                            * ({LM_LAMBDA} * (b34.n12 / u3.n)
                               + {1 - LM_LAMBDA} * (u4.n / t.total)))) AS lp
        FROM (SELECT doc_id, toks[1] AS w1, toks[2] AS w2,
                     toks[3] AS w3, toks[4] AS w4
              FROM w1 WHERE len(toks) >= 4) s
        JOIN quad q ON s.w1 = q.w1 AND s.w2 = q.w2
                   AND s.w3 = q.w3 AND s.w4 = q.w4
        JOIN tri t123 ON s.w1 = t123.w1 AND s.w2 = t123.w2 AND s.w3 = t123.w3
        JOIN tri t234 ON s.w2 = t234.w1 AND s.w3 = t234.w2 AND s.w4 = t234.w3
        JOIN big b23 ON s.w2 = b23.w1 AND s.w3 = b23.w2
        JOIN big b34 ON s.w3 = b34.w1 AND s.w4 = b34.w2
        JOIN uni u3 ON s.w3 = u3.token
        JOIN uni u4 ON s.w4 = u4.token
        CROSS JOIN tot t
    ),
    quint_lp AS (
        SELECT p.doc_id,
               log10({LM_LAMBDA5} * (qq.n12345 / q1234.n1234)
                     + {1 - LM_LAMBDA5}
                       * ({LM_LAMBDA4} * (q2345.n1234 / t234.n123)
                          + {1 - LM_LAMBDA4}
                            * ({LM_LAMBDA3} * (t345.n123 / b34.n12)
                               + {1 - LM_LAMBDA3}
                                 * ({LM_LAMBDA} * (b45.n12 / u4.n)
                                    + {1 - LM_LAMBDA} * (u5.n / t.total))))) AS lp
        FROM quints p
        JOIN quint qq ON p.w1 = qq.w1 AND p.w2 = qq.w2 AND p.w3 = qq.w3
                     AND p.w4 = qq.w4 AND p.w5 = qq.w5
        JOIN quad q1234 ON p.w1 = q1234.w1 AND p.w2 = q1234.w2
                       AND p.w3 = q1234.w3 AND p.w4 = q1234.w4
        JOIN quad q2345 ON p.w2 = q2345.w1 AND p.w3 = q2345.w2
                       AND p.w4 = q2345.w3 AND p.w5 = q2345.w4
        JOIN tri t234 ON p.w2 = t234.w1 AND p.w3 = t234.w2 AND p.w4 = t234.w3
        JOIN tri t345 ON p.w3 = t345.w1 AND p.w4 = t345.w2 AND p.w5 = t345.w3
        JOIN big b34 ON p.w3 = b34.w1 AND p.w4 = b34.w2
        JOIN big b45 ON p.w4 = b45.w1 AND p.w5 = b45.w2
        JOIN uni u4 ON p.w4 = u4.token
        JOIN uni u5 ON p.w5 = u5.token
        CROSS JOIN tot t
    )
    SELECT doc_id, COUNT(1) AS n_tokens, ROUND(AVG(lp), 6) AS mean_logp
    FROM (SELECT * FROM first_lp UNION ALL SELECT * FROM second_lp
          UNION ALL SELECT * FROM third_lp UNION ALL SELECT * FROM fourth_lp
          UNION ALL SELECT * FROM quint_lp)
    GROUP BY doc_id
"""

ORACLE_SQL["perplexity_buckets"] = _PERPLEXITY_ORACLE
ORACLE_SQL["perplexity_buckets_distributed"] = _PERPLEXITY_ORACLE

ORACLE_SQL["perplexity_buckets_ngram5"] = f"""
    SELECT doc_id, mean_logp,
           NTILE({PERPLEXITY_K}) OVER (
               ORDER BY {_LOGP_LATTICE_SQL} DESC, doc_id ASC
           ) AS bucket
    FROM ({ORACLE_SQL["ngram5_logprob_scores"]})
"""

# Composite oracle: the member stages' own SQL fragments chained as CTEs
# (the training_corpus pattern) — a green hash certifies the pipeline.
ORACLE_SQL["curated_corpus"] = f"""
    WITH pd AS ({ORACLE_SQL["paragraph_dedup"]}),
    docs2 AS (
        SELECT p.doc_id, d.source, d.lang, p.text
        FROM pd p JOIN documents d ON p.doc_id = d.doc_id
    ),
    sized AS (
        SELECT doc_id, source, lang, text,
               len(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS n_tokens
        FROM docs2
    )
    SELECT doc_id, source, lang, n_tokens, cum_tokens FROM (
        SELECT doc_id, source, lang, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY md5(text) ASC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM sized
    ) WHERE cum_tokens - n_tokens < {TOKEN_QUOTA}
"""

ORACLE_SQL["zipf_fit_by_source"] = f"""
    WITH toks AS (
        SELECT source,
               unnest(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS token
        FROM documents
    ),
    counts AS (
        SELECT source, token, COUNT(1) AS n FROM toks GROUP BY source, token
    ),
    head AS (
        SELECT source, n,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY n DESC, token ASC
               ) AS rank
        FROM counts
        QUALIFY rank <= {ZIPF_TOP_K}
    )
    SELECT source,
           COUNT(1) AS n_terms,
           ROUND(regr_slope(ln(n), ln(rank)), 4) AS zipf_slope,
           ROUND(regr_intercept(ln(n), ln(rank)), 4) AS zipf_intercept,
           ROUND(regr_r2(ln(n), ln(rank)), 4) AS zipf_r2
    FROM head GROUP BY source
"""

# Composed dashboard oracle — every member re-pinned through the join.
# LEFT joins from the complete source list (corpus_stats_by_source), same
# degenerate-source-surfaces-as-nulls semantics as the Spark side.
from ..functions.text import ORACLE_SQL as _TEXT_ORACLE  # noqa: E402
from .sketch import ORACLE_SQL as _SKETCH_ORACLE  # noqa: E402

ORACLE_SQL["source_dashboard"] = f"""
    SELECT s.source, s.n_docs, s.total_tokens, s.mean_tokens, s.n_langs,
           s.n_distinct_texts, q.gate_pass_rate, k.kl_divergence,
           k.n_distinct_tokens, z.zipf_slope, z.zipf_r2,
           h.hll_est AS distinct_tokens_est, b.ci_lo, b.ci_hi
    FROM ({ORACLE_SQL["corpus_stats_by_source"]}) s
    LEFT JOIN ({_TEXT_ORACLE["quality_by_source"]}) q ON s.source = q.source
    LEFT JOIN ({ORACLE_SQL["source_kl_divergence"]}) k ON s.source = k.source
    LEFT JOIN ({ORACLE_SQL["zipf_fit_by_source"]}) z ON s.source = z.source
    LEFT JOIN ({_SKETCH_ORACLE["hll_distinct_by_source"]}) h ON s.source = h.source
    LEFT JOIN ({_SKETCH_ORACLE["bootstrap_source_stats"]}) b ON s.source = b.source
"""


# curated_corpus_v2: the members' own SQL builders chained as CTEs — the
# same fragments their standalone entries are certified against, re-run
# here over each stage's output (stage handoffs via nested WITH
# subqueries, which DuckDB scopes per-subquery).
def _curated_corpus_v2_oracle() -> str:
    from ..functions.text import SPLIT_TRAIN_CUTOFF, SPLIT_VAL_CUTOFF
    from .training import PROBE_MAX_DOC_ID
    from .training import ORACLE_SQL as _TRAIN_ORACLE
    from .training import _pack_sql

    return f"""
    WITH bp AS (SELECT doc_id, text FROM ({_boiler_filter_sql("documents")})),
    cdc AS (SELECT doc_id, text FROM ({_cdc_dedup_sql("bp")})),
    px AS (SELECT * FROM ({ORACLE_SQL["perplexity_buckets_ngram5"]})),
    bad AS (
        SELECT doc_id FROM ({_TRAIN_ORACLE["decontaminate"]}) WHERE contaminated
    ),
    kept AS (
        SELECT c.doc_id, c.text, CAST(px.bucket AS BIGINT) AS ppl_bucket
        FROM cdc c JOIN px ON c.doc_id = px.doc_id
        WHERE px.bucket <= {PPL_KEEP_BUCKETS}
          AND c.doc_id >= {PROBE_MAX_DOC_ID}
          AND c.doc_id NOT IN (SELECT doc_id FROM bad)
    ),
    sized AS (
        SELECT doc_id, ppl_bucket,
               CASE WHEN substring(md5(text), 1, 4) < '{SPLIT_TRAIN_CUTOFF}'
                        THEN 'train'
                    WHEN substring(md5(text), 1, 4) < '{SPLIT_VAL_CUTOFF}'
                        THEN 'val'
                    ELSE 'test' END AS split,
               len(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS n_tokens
        FROM kept
    ),
    packed AS (
        SELECT * FROM ({_pack_sql("SELECT doc_id, n_tokens FROM sized")})
    )
    SELECT s.doc_id, s.n_tokens, s.ppl_bucket, s.split, p.pack_id
    FROM sized s JOIN packed p ON s.doc_id = p.doc_id
"""


ORACLE_SQL["curated_corpus_v2"] = _curated_corpus_v2_oracle()
