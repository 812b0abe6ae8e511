"""Text analysis operators over the ``documents`` table.

Training-data-pipeline primitives (BASELINE.json north star):
  token counting      — whitespace + BPE-ish regex token estimate
  quality scoring     — length / punctuation / stopword ratios
  language ID         — stopword-set heuristic, argmax across languages
  fingerprinting      — md5 content digest + 64-bit rolling hash

Everything is built from native Spark expressions (split, regexp, explode,
conditional aggregation) so it rides whole-stage codegen; the same logic is
expressible in ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load_table

# Fixed stopword sets (deterministic, shared with the oracle SQL).
STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it")
# BPE-ish token estimate: runs of letters, runs of digits, single punct.
BPE_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def split_tokens(col: str = "text") -> Column:
    """The whitespace tokens of `col`: split on single spaces, empty
    strings dropped. Every oracle mirrors it as
    ``list_filter(string_split(text, ' '), t -> t <> '')``."""
    return F.filter(F.split(col, " "), lambda t: t != "")


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts: whitespace tokens, BPE-ish tokens,
    characters, average token length.

    Scale: pure map-side (no shuffle at all) — projection over the scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    ws_tokens = split_tokens()
    return docs.select(
        "doc_id",
        F.size(ws_tokens).cast("long").alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0)).cast("long").alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
        F.round(F.length("text") / F.size(ws_tokens), 4).alias("chars_per_token"),
    )


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: stopword ratio, mean word length,
    alpha ratio — the length/punct/stopword heuristics used to filter
    low-quality web text before LLM training.

    Ratios are rounded to 4 places (cross-engine float policy).
    """
    docs = load_table(spark, sf_dir, "documents")
    tokens = split_tokens()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = F.size(F.filter(tokens, lambda t: F.array_contains(stop_arr, t)))
    alpha_chars = F.length(F.regexp_replace("text", r"[^a-zA-Z]", ""))
    return docs.select(
        "doc_id",
        "lang",
        F.size(tokens).cast("long").alias("n_tokens"),
        F.round(n_stop / F.size(tokens), 4).alias("stopword_ratio"),
        F.round(alpha_chars / F.length("text"), 4).alias("alpha_ratio"),
        F.round(
            (F.length("text") - F.size(tokens) + 1) / F.size(tokens), 4
        ).alias("mean_word_len"),
    )


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 digest (cross-engine) + first-8-hex-chars
    shard bucket — the digest-sharding pattern used to distribute dedup
    state at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    digest = F.md5(F.col("text").cast("binary"))
    return docs.select(
        "doc_id",
        digest.alias("fingerprint"),
        F.substring(digest, 1, 4).alias("shard_bucket"),
    )


CHUNK_TOKENS = 50
CHUNK_STRIDE = 40  # 10-token overlap between consecutive chunks


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into overlapping fixed-size token windows — the
    chunking pass that feeds context-bounded models. One row per chunk:
    (doc_id, chunk_start, chunk_text, n_chunk_tokens).

    JVM-side end to end: sequence → transform(slice) → posexplode; the
    row multiplication is ~n_tokens/stride per doc, and chunks inherit
    the scan's partitioning (no shuffle).
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", split_tokens().alias("w"))
        .select(
            "doc_id",
            "w",
            F.size("w").alias("n"),
            F.explode(F.expr(f"sequence(0, size(w) - 1, {CHUNK_STRIDE})")).alias("s"),
        )
        .select(
            "doc_id",
            F.col("s").cast("long").alias("chunk_start"),
            F.expr(f"concat_ws(' ', slice(w, s + 1, {CHUNK_TOKENS}))").alias("chunk_text"),
            F.least(F.lit(CHUNK_TOKENS), F.col("n") - F.col("s")).cast("long").alias("n_chunk_tokens"),
        )
    )


SAMPLE_HEX_CUTOFF = "40"  # first md5 byte < 0x40 → deterministic 25%


def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible corpus sampling: keep documents whose content-md5
    starts below a hex cutoff — a 25% sample that is stable across runs,
    engines, partitionings, and cluster sizes (unlike `df.sample`, whose
    output depends on partition layout even with a fixed seed).

    Stratified variants use per-key cutoffs (e.g. per-language rates) on
    the same digest — same mechanism, different thresholds.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("text").cast("binary")), 1, 2)
    return docs.filter(bucket < SAMPLE_HEX_CUTOFF).select(
        "doc_id", "lang", "source", bucket.alias("sample_bucket")
    )


IMPORTANCE_RATE = 0.5  # keep probability = RATE · weight (weight ∈ [0,1])


def importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED deterministic sampling: each document's keep
    probability is IMPORTANCE_RATE · weight, with weight = its alpha
    ratio (alphabetic-character fraction, the repo's quality signal in
    [0, 1]) — the "sample good documents more" curation primitive, vs
    `deterministic_sample`'s uniform cutoff.

    Mechanism: the content-keyed uniform u = first-4-hex-chars of the
    md5 digest (an exact k/65536 lattice) compared against 65536·rate·
    weight. Join-free, partitioning-independent, reproducible across
    engines and cluster sizes; the weight is the 4-decimal ROUNDED ratio
    so both engines compare identical operands. Scale: pure map-side —
    a filter on expressions over each row alone."""
    docs = load_table(spark, sf_dir, "documents")
    weight = F.round(
        F.length(F.regexp_replace("text", r"[^a-zA-Z]", "")) / F.length("text"), 4
    )
    u = F.conv(
        F.substring(F.md5(F.col("text").cast("binary")), 1, 4), 16, 10
    ).cast("long")
    return docs.filter(
        u < F.lit(IMPORTANCE_RATE * 65536) * weight
    ).select("doc_id", "source", weight.alias("weight"))


def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The split auditor: one row per split with its document count plus
    the corpus-wide count of content digests that appear in MORE THAN
    ONE split — the eval-leakage regression a row-id-keyed split would
    introduce. Structurally zero here because `dataset_splits` keys on
    content md5 (byte-identical twins cannot straddle splits), and this
    report is what PROVES it stays zero: it audits `_split_assignment` —
    the SAME expression `dataset_splits` projects, not a private copy —
    so a rewire of the split rule (e.g. to doc_id) is inherited here and
    the driver row goes red.

    Plan: one digest-keyed countDistinct(split) aggregate + one split-
    keyed count — O(distinct texts) intermediate, no joins of raw text."""
    docs = load_table(spark, sf_dir, "documents")
    # r13 note: checkpointing `tagged` (feeds both consumers, digest
    # pass plans twice) was built and REJECTED on measurement — see
    # key_skew_report; same trade, flips at petabyte inputs.
    tagged = _split_assignment(docs).select("digest", "split")
    leaked = (
        tagged.groupBy("digest")
        .agg(F.countDistinct("split").alias("n_splits"))
        .agg(
            F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0)).alias(
                "n_leaked_digests"
            )
        )
    )
    per_split = tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("digest").alias("n_distinct_texts"),
    )
    return per_split.join(F.broadcast(leaked)).select(
        "split", "n_docs", "n_distinct_texts", "n_leaked_digests"
    )


WRS_K = 50  # weighted sample size
WRS_SEED = "wrs42"


def _wrs_scored(docs: DataFrame) -> DataFrame:
    """THE A-ES priority rule — (doc_id, source, n_tokens, pri) with
    pri = ln(u)/w, u the deterministic md5(seed:doc_id) uniform, w the
    token count; zero-token docs filtered (they carry no mass). Single
    source of truth shared by `weighted_sample_docs` (global top-k) and
    `weighted_sample_by_source` (stratified) — the two can never
    disagree on a priority."""
    w = F.size(split_tokens())
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(WRS_SEED + ":"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    pri = F.log(u) / w
    return docs.select(
        "doc_id", "source", w.alias("n_tokens"), pri.alias("pri")
    ).filter(F.col("n_tokens") > 0)


def weighted_sample_docs(
    spark: SparkSession, sf_dir: str, k: int = WRS_K
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, probability proportional
    to token count (Efraimidis-Spirakis A-ES): each document draws a
    deterministic uniform u from md5(seed:doc_id) and competes on the
    priority ln(u)/w — the global top-k by priority IS a without-
    replacement sample with inclusion odds ∝ w. The "pick k documents
    weighted by length" primitive (token-budget-aware eval-set or
    annotation sampling), complementing `importance_sample`'s
    independent-coin-per-doc shape (that one's output size is random;
    this one's is exactly k).

    Scale: one map-side priority expression per row, then a distributed
    top-k (TakeOrderedAndProject — per-partition heaps merged on the
    driver side of the exchange, never a global sort). At 100 TB the
    whole operator moves k rows. Zero-token docs carry no mass and are
    filtered before the draw. Priorities are strictly-ordered doubles
    from distinct md5 lattice points, so the top-k boundary is the same
    in every engine; the reported priority is rounded for the oracle
    hash only AFTER selection."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return (
        _wrs_scored(docs)
        .orderBy(F.desc("pri"), F.asc("doc_id"))
        .limit(k)
        .select(
            "doc_id", "source", "n_tokens", F.round("pri", 6).alias("priority")
        )
    )


WRS_PER_SOURCE_K = 5  # per-stratum weighted sample size


def weighted_sample_by_source(
    spark: SparkSession, sf_dir: str, k: int = WRS_PER_SOURCE_K
) -> DataFrame:
    """STRATIFIED A-ES: the top-k Efraimidis-Spirakis priorities WITHIN
    each source — a length-weighted without-replacement sample of
    exactly k docs per stratum (the per-domain eval/annotation draw;
    `weighted_sample_docs` is the global form). Same priority
    arithmetic, so the two entries can never disagree on a priority.

    Scale: the global top-k's TakeOrderedAndProject becomes a rank
    window pruned by WindowGroupLimit — per-partition per-source heaps
    before the exchange, k·sources rows after it."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return weighted_sample_by_source_df(docs, k)


def weighted_sample_by_source_df(docs: DataFrame, k: int = WRS_PER_SOURCE_K) -> DataFrame:
    """`weighted_sample_by_source` core over any (doc_id, source, text)
    frame."""
    from pyspark.sql.window import Window as W

    scored = _wrs_scored(docs)
    win = W.partitionBy("source").orderBy(F.desc("pri"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(win).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "source",
            "rank",
            "doc_id",
            "n_tokens",
            F.round("pri", 6).alias("priority"),
        )
    )


# 4-hex-char (65536-bucket) split cutoffs: 0xe666/0x10000 ≈ 0.8999 train,
# then ≈ 0.0500 val, remainder test. Exact hex constants, not computed
# floats, so the boundary is identical in every engine.
SPLIT_TRAIN_CUTOFF = "e666"
SPLIT_VAL_CUTOFF = "f333"


def _split_assignment(docs: DataFrame) -> DataFrame:
    """THE split rule — the single source of truth consumed by both
    `dataset_splits` (the operator) and `split_leakage_report` (its
    auditor). Returns the input plus `digest` (content md5),
    `split_bucket`, and `split` columns. Keyed on CONTENT so byte-
    identical duplicates land in the same split; if anyone rewires this
    to a row-id key, the auditor inherits the rewire and its driver row
    goes red (duplicate digests straddle splits → oracle mismatch)."""
    digest = F.md5(F.col("text").cast("binary"))
    bucket = F.substring(digest, 1, 4)
    split = (
        F.when(bucket < SPLIT_TRAIN_CUTOFF, F.lit("train"))
        .when(bucket < SPLIT_VAL_CUTOFF, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.withColumns(
        {"digest": digest, "split_bucket": bucket, "split": split}
    )


def dataset_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (~90/5/5): bucket each
    document by the first 4 hex chars of its content md5 and cut at fixed
    hex thresholds (rule: `_split_assignment`). Stable across runs,
    engines, partitionings, and cluster sizes — and keyed on CONTENT, not
    doc_id, so byte-identical duplicates always land in the same split:
    an exact dup can never sit in train while its twin sits in test (the
    subtle leakage a row-id-keyed split allows). Map-side projection,
    zero shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    return _split_assignment(docs).select(
        "doc_id", "source", "lang", "split_bucket", "split"
    )


EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


def redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training corpora: replace email addresses and
    phone-number-shaped spans with typed placeholders; report counts.

    Regexes stay in the Java∩RE2 common dialect so the same patterns run
    in both engines. Pure map-side (zero shuffle) — at 100 TB this is a
    pass-through rewrite pipelined with the scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_emails = F.size(F.regexp_extract_all("text", F.lit(EMAIL_RE), 0))
    redacted = F.regexp_replace(
        F.regexp_replace("text", EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        redacted.alias("redacted_text"),
        n_emails.cast("long").alias("n_emails"),
        (F.length("text") - F.length(redacted)).cast("long").alias("chars_removed"),
    )


LANG_STOPWORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "de", "et", "que"),
    "de": ("der", "die", "das", "und", "zu"),
}


REP_N = 3  # word n-gram size for the repetition signal
REP_THRESHOLD = 0.2  # flag docs where > 20% of n-gram occurrences repeat


def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: the fraction of word-3-gram
    occurrences that are repeats of an earlier occurrence in the same
    document (1 - distinct/total). High values mark boilerplate,
    templated spam, and looping generations — a standard pre-training
    quality filter.

    Map-side except one groupBy(doc_id): the n-gram list and its
    distinct cardinality are computed per row with JVM higher-order
    functions — zero explode, zero shuffle for the ratio itself.
    """
    docs = load_table(spark, sf_dir, "documents")
    # guard short docs INSIDE the expr: sequence(0, negative) descends in
    # Spark and the resulting slice(…, 0, n) would throw under ANSI
    grams = F.expr(
        f"CASE WHEN size(filter(split(text, ' '), t -> t != '')) >= {REP_N} "
        f"THEN transform(sequence(0, size(filter(split(text, ' '), t -> t != '')) - {REP_N}), "
        f"i -> concat_ws(' ', slice(filter(split(text, ' '), t -> t != ''), i + 1, {REP_N}))) "
        f"ELSE array() END"
    )
    n_grams = F.size(grams).cast("long")
    n_distinct = F.size(F.array_distinct(grams)).cast("long")
    dup_frac = F.when(
        n_grams > 0, F.round((n_grams - n_distinct) / n_grams, 4)
    ).otherwise(0.0)
    return docs.select(
        "doc_id",
        n_grams.alias("n_ngrams"),
        n_distinct.alias("n_distinct"),
        dup_frac.alias("dup_frac"),
        (dup_frac > REP_THRESHOLD).alias("repetitive"),
    )


def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the character distribution per document
    (bits/char, 4 dp). Near-zero entropy = degenerate/repeated-char
    text; unusually high = binary-ish noise — both standard gibberish
    filters. explode(chars) → two keyed aggregations, no joins.
    """
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    ).filter(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("n"))
    # H = log2(N) - (Σ n·log2(n)) / N — one aggregation, no window/join
    return counts.groupBy("doc_id").agg(
        F.sum("n").cast("long").alias("n_chars"),
        F.round(
            F.log2(F.sum("n")) - F.sum(F.col("n") * F.log2("n")) / F.sum("n"), 4
        ).alias("entropy_bits"),
    )


def lang_id_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-hit score per language, argmax with
    deterministic tie-break on language code ('und' when all scores are 0).

    On the synthetic corpus (English-ish word soup) this mostly yields
    'en'/'und' — the operator's value is the *shape*: per-language
    conditional aggregation + argmax, which is exactly how a real
    fastText-free langid pass distributes.
    """
    docs = load_table(spark, sf_dir, "documents")
    return _lang_id_scored(docs)


def _lang_id_scored(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """The stopword-score + argmax projection of `lang_id_scores` over
    any (doc_id, text [+ `keep`]) frame, with `keep` columns carried
    through map-side — so a consumer needing ground-truth columns
    (e.g. the confusion matrix) never has to join back to the scan
    (r13-opt, guide §2.4: the join was a doc_id self-join of the same
    table)."""
    tokens = F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != "")
    def _contains(arr):
        # closure (not a default arg): a 2-param lambda would be treated
        # as pyspark's (element, index) filter signature
        return lambda t: F.array_contains(arr, t)

    score_cols = []
    for lang, words in sorted(LANG_STOPWORDS.items()):
        arr = F.array(*[F.lit(w) for w in words])
        score_cols.append(
            F.size(F.filter(tokens, _contains(arr))).cast("long").alias(f"score_{lang}")
        )
    scored = docs.select("doc_id", *keep, *score_cols)
    langs = sorted(LANG_STOPWORDS.keys())
    # argmax via max-of-structs: (score, -lang_index) — ties prefer the
    # alphabetically-first language; all-zero scores → 'und'.
    candidates = F.array(
        *[
            F.struct(
                F.col(f"score_{lang}").alias("score"),
                F.lit(-i).alias("neg_idx"),
            )
            for i, lang in enumerate(langs)
        ]
    )
    best = F.array_max(candidates)
    lang_lit = F.array(*[F.lit(lang) for lang in langs])
    predicted = F.when(
        best["score"] > 0, F.get(lang_lit, (-best["neg_idx"]).cast("int"))
    ).otherwise(F.lit("und"))
    return scored.select(
        "doc_id",
        *keep,
        *[f"score_{lang}" for lang in langs],
        predicted.alias("predicted_lang"),
    )


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language ID against the
    corpus's ground-truth `lang` column — (lang, predicted_lang,
    n_docs). The evaluation table that decides whether the stopword
    heuristic is good enough per language before it gates anything
    (its zh row is all-misses by construction: the heuristic carries
    no zh stopword list, so zh ground truth lands in 'und'/'en' — the
    exact blind spot this matrix exists to surface). r13-opt: the
    ground-truth `lang` column rides the scoring projection itself
    (`_lang_id_scored(keep=("lang",))`), so the former doc_id
    self-join of the documents table is gone — one scan, one 2-key
    aggregate; output O(langs²). Batch-only: rides lang_id_scores'
    map-side scoring, which a stream scores row-local identically."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        _lang_id_scored(docs, keep=("lang",))
        .select("lang", "predicted_lang")
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


QF_ALPHA_PCT = 0.25  # drop the lowest-alpha-ratio quartile
QF_STOP_PCT = 0.10  # drop the lowest-stopword-ratio decile (gibberish)


def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quality filtering: keep documents at or above the corpus's
    25th-percentile alpha ratio AND 10th-percentile stopword ratio — the
    threshold-from-the-data pattern (fixed cutoffs rot as the corpus mix
    shifts; percentile cutoffs track it).

    Plan: score map-side (`quality_scores`), ONE global aggregate reduces
    the corpus to two scalar thresholds, broadcast back, filter map-side.
    At 100 TB the aggregate is the only shuffle and its output is 16
    bytes; `percentile` is exact here because scores are rounded to 4dp
    (bounded domain → bounded aggregation state) — an unbounded-domain
    signal would use `approx_percentile`, same plan shape.
    """
    scored = quality_scores(spark, sf_dir)
    th = scored.agg(
        F.expr(f"percentile(alpha_ratio, {QF_ALPHA_PCT})").alias("alpha_th"),
        F.expr(f"percentile(stopword_ratio, {QF_STOP_PCT})").alias("stop_th"),
    )
    return (
        scored.join(F.broadcast(th))
        .filter(
            (F.col("alpha_ratio") >= F.col("alpha_th"))
            & (F.col("stopword_ratio") >= F.col("stop_th"))
        )
        .select("doc_id", "lang", "n_tokens", "stopword_ratio", "alpha_ratio")
    )


def quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality rollup: document counts, token medians, mean
    quality signals, and the Gopher-gate pass rate — the table a
    curation dashboard shows per crawl/source before deciding its
    mixture weight. Composes `quality_scores` + `gopher_quality_gate`
    (both map-side) with ONE groupBy(source).

    `percentile` is exact here because token counts are integers with a
    bounded domain; an unbounded signal would use `approx_percentile`
    (same plan shape).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scored = quality_scores(spark, sf_dir).select(
        "doc_id", "n_tokens", "stopword_ratio", "alpha_ratio"
    )
    gate = gopher_quality_gate(spark, sf_dir).select("doc_id", "passes")
    return (
        docs.join(scored, "doc_id")
        .join(gate, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("CAST(percentile(n_tokens, 0.5) AS DOUBLE)").alias(
                "median_tokens"
            ),
            F.round(F.avg("stopword_ratio"), 4).alias("mean_stopword_ratio"),
            F.round(F.avg("alpha_ratio"), 4).alias("mean_alpha_ratio"),
            F.round(
                F.avg(F.when(F.col("passes"), 1.0).otherwise(0.0)), 4
            ).alias("gate_pass_rate"),
        )
    )


def quality_rank_df(docs: DataFrame) -> DataFrame:
    """(doc_id, source, stop_ppm, rank_ppm) — per-source percentile
    rank of the EXACT-integer stopword-density score.

    The per-source normalization step of cross-source curation: raw
    quality signals have source-specific distributions (a forum dump
    and an encyclopedia dump don't share a stopword-ratio scale), so
    thresholds must be set on the within-source percentile, not the
    raw score. The float discipline forbids ranking rounded doubles,
    so the ranked key is exact: stop_ppm = (n_stop·1e6) div n_tokens,
    and the rank is ROW_NUMBER over the engine-stable
    (stop_ppm, doc_id) order; rank_ppm = ((rk−1)·1e6) div (n−1)
    maps it onto [0, 1e6] (0 for a single-doc source — guarded, not a
    divide error). Zero-token docs have no rankable density and are
    filtered on BOTH engines.

    Scale shape: map-side token counts, then ONE per-source window
    sort (the canonical ranking exchange — partitioned by source, so
    no global sort); output O(docs). Batch-only: a within-source
    percentile rank is a total order over the source's history —
    recomputed per snapshot (the `quality_filter` adaptive-threshold
    note), not an incremental fold."""
    toks = split_tokens()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    scored = (
        docs.select(
            "doc_id",
            "source",
            F.size(toks).cast("long").alias("n_tokens"),
            n_stop.cast("long").alias("n_stop"),
        )
        .filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "source",
            F.expr("(n_stop * 1000000) div n_tokens").alias("stop_ppm"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy("stop_ppm", "doc_id")
    )
    n = F.count(F.lit(1)).over(Window.partitionBy("source"))
    return scored.select(
        "doc_id", "source", "stop_ppm", rk.alias("rk"), n.alias("n")
    ).select(
        "doc_id",
        "source",
        "stop_ppm",
        F.when(
            F.col("n") > 1,
            F.expr("((rk - 1) * 1000000) div (n - 1)"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("rank_ppm"),
    )


def quality_rank_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-source percentile rank of the exact stopword-density
    score (see `quality_rank_df`)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    return quality_rank_df(docs)


# Gopher-rule fixed thresholds (Rae et al. 2021, §A1.1 shape — bounds
# tuned to the synthetic corpus so the gate discriminates at test scale)
GOPHER_MIN_TOKENS = 30
GOPHER_MAX_TOKENS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_STOPWORDS = 2
GOPHER_MIN_ALPHA_RATIO = 0.8
GOPHER_MAX_DUP_FRAC = 0.2


def gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style FIXED-RULE quality gate — the complement of the
    adaptive `quality_filter`: every document is scored against absolute
    bounds (token-count window, mean-word-length window, ≥2 stopwords,
    alpha-character ratio, word-3-gram repetition cap) and keeps a
    per-rule verdict plus the conjunction. Emitting the verdict VECTOR
    (not just survivors) is the curation-dashboard form: rule-level drop
    rates are what you tune before committing a corpus build.

    Plan: every signal is a JVM higher-order expression over the token
    array — one projection over the scan, NO shuffle anywhere (the
    repetition ratio reuses the `repetition_scores` in-array distinct).
    """
    docs = load_table(spark, sf_dir, "documents")
    tokens = split_tokens()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = F.size(F.filter(tokens, lambda t: F.array_contains(stop_arr, t)))
    alpha_ratio = F.round(
        F.length(F.regexp_replace("text", r"[^a-zA-Z]", "")) / F.length("text"), 4
    )
    mean_wl = F.round(
        (F.length("text") - F.size(tokens) + 1) / F.size(tokens), 4
    )
    grams = F.expr(
        f"CASE WHEN size(filter(split(text, ' '), t -> t != '')) >= {REP_N} "
        f"THEN transform(sequence(0, size(filter(split(text, ' '), t -> t != '')) - {REP_N}), "
        f"i -> concat_ws(' ', slice(filter(split(text, ' '), t -> t != ''), i + 1, {REP_N}))) "
        f"ELSE array() END"
    )
    n_grams = F.size(grams)
    dup_frac = F.when(
        n_grams > 0,
        F.round((n_grams - F.size(F.array_distinct(grams))) / n_grams, 4),
    ).otherwise(0.0)
    ok_len = (F.size(tokens) >= GOPHER_MIN_TOKENS) & (
        F.size(tokens) <= GOPHER_MAX_TOKENS
    )
    ok_wl = (mean_wl >= GOPHER_MIN_MEAN_WORD_LEN) & (
        mean_wl <= GOPHER_MAX_MEAN_WORD_LEN
    )
    ok_stop = n_stop >= GOPHER_MIN_STOPWORDS
    ok_alpha = alpha_ratio >= GOPHER_MIN_ALPHA_RATIO
    ok_rep = dup_frac <= GOPHER_MAX_DUP_FRAC
    return docs.select(
        "doc_id",
        F.size(tokens).cast("long").alias("n_tokens"),
        ok_len.alias("ok_token_count"),
        ok_wl.alias("ok_mean_word_len"),
        ok_stop.alias("ok_stopwords"),
        ok_alpha.alias("ok_alpha_ratio"),
        ok_rep.alias("ok_repetition"),
        (ok_len & ok_wl & ok_stop & ok_alpha & ok_rep).alias("passes"),
    )


ORACLE_SQL: dict[str, str] = {
    "token_stats": f"""
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
               len(regexp_extract_all(text, '{BPE_RE}')) AS n_bpe_tokens,
               CAST(length(text) AS BIGINT) AS n_chars_actual,
               ROUND(length(text) / len(list_filter(string_split(text, ' '), t -> t <> '')), 4)
                   AS chars_per_token
        FROM documents
    """,
    "quality_scores": """
        WITH t AS (
            SELECT doc_id, lang, length(text) AS n_chars,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks,
                   length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars
            FROM documents
        )
        SELECT doc_id, lang,
               len(toks) AS n_tokens,
               ROUND(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it')))
                     / len(toks), 4) AS stopword_ratio,
               ROUND(alpha_chars / n_chars, 4) AS alpha_ratio,
               ROUND((n_chars - len(toks) + 1) / len(toks), 4) AS mean_word_len
        FROM t
    """,
    "doc_fingerprints": """
        SELECT doc_id, md5(text) AS fingerprint,
               substring(md5(text), 1, 4) AS shard_bucket
        FROM documents
    """,
    "doc_chunks": f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS w
            FROM documents
        )
        SELECT doc_id,
               s AS chunk_start,
               array_to_string(w[s + 1 : s + {CHUNK_TOKENS}], ' ') AS chunk_text,
               least({CHUNK_TOKENS}, len(w) - s) AS n_chunk_tokens
        FROM t, LATERAL (SELECT unnest(range(0, len(w), {CHUNK_STRIDE})) AS s) g
    """,
    "deterministic_sample": f"""
        SELECT doc_id, lang, source, substring(md5(text), 1, 2) AS sample_bucket
        FROM documents
        WHERE substring(md5(text), 1, 2) < '{SAMPLE_HEX_CUTOFF}'
    """,
    "importance_sample": f"""
        WITH t AS (
            SELECT doc_id, source,
                   ROUND(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                         / length(text), 4) AS weight,
                   CAST('0x' || substring(md5(text), 1, 4) AS INTEGER) AS u
            FROM documents
        )
        SELECT doc_id, source, weight FROM t
        WHERE u < {IMPORTANCE_RATE * 65536} * weight
    """,
    "dataset_splits": f"""
        SELECT doc_id, source, lang,
               substring(md5(text), 1, 4) AS split_bucket,
               CASE WHEN substring(md5(text), 1, 4) < '{SPLIT_TRAIN_CUTOFF}' THEN 'train'
                    WHEN substring(md5(text), 1, 4) < '{SPLIT_VAL_CUTOFF}' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """,
    "redact_pii": f"""
        WITH r AS (
            SELECT doc_id, text,
                   regexp_replace(
                       regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                       '{PHONE_RE.replace("'", "''")}', '<PHONE>', 'g') AS redacted_text
            FROM documents
        )
        SELECT doc_id, redacted_text,
               len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
               CAST(length(text) - length(redacted_text) AS BIGINT) AS chars_removed
        FROM r
    """,
    # Deterministic arithmetic (stopword-set hits + argmax with a fixed
    # alphabetical tie-break) — fully SQL-expressible, so oracle-checked.
    "lang_id_scores": """
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id,
                   len(list_filter(toks, x -> x IN ('der','die','das','und','zu'))) AS score_de,
                   len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) AS score_en,
                   len(list_filter(toks, x -> x IN ('el','la','de','y','que'))) AS score_es,
                   len(list_filter(toks, x -> x IN ('le','la','de','et','que'))) AS score_fr
            FROM t
        )
        SELECT doc_id, score_de, score_en, score_es, score_fr,
               CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
                    WHEN score_de >= score_en AND score_de >= score_es
                         AND score_de >= score_fr THEN 'de'
                    WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
                    WHEN score_es >= score_fr THEN 'es'
                    ELSE 'fr' END AS predicted_lang
        FROM s
    """,
    "repetition_scores": f"""
        WITH w AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS words
            FROM documents
        ),
        g AS (
            SELECT doc_id,
                   words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS gram
            FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
            WHERE len(words) >= {REP_N}
        ),
        agg AS (
            SELECT doc_id, COUNT(1) AS n_ngrams,
                   COUNT(DISTINCT gram) AS n_distinct
            FROM g GROUP BY doc_id
        )
        SELECT w.doc_id,
               COALESCE(n_ngrams, 0) AS n_ngrams,
               COALESCE(n_distinct, 0) AS n_distinct,
               COALESCE(ROUND((n_ngrams - n_distinct) / n_ngrams, 4), 0.0) AS dup_frac,
               COALESCE(ROUND((n_ngrams - n_distinct) / n_ngrams, 4), 0.0)
                   > {REP_THRESHOLD} AS repetitive
        FROM w LEFT JOIN agg ON w.doc_id = agg.doc_id
    """,
    "char_entropy": """
        WITH c AS (
            SELECT doc_id, substring(text, i, 1) AS ch
            FROM documents, LATERAL (SELECT unnest(range(1, len(text) + 1)) AS i) t
            WHERE len(text) >= 1
        ),
        counts AS (SELECT doc_id, ch, COUNT(1) AS n FROM c GROUP BY doc_id, ch)
        SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_chars,
               ROUND(log2(SUM(n)) - SUM(n * log2(n)) / SUM(n), 4) AS entropy_bits
        FROM counts GROUP BY doc_id
    """,
}


# Composed from the quality_scores oracle so the two can never drift.
ORACLE_SQL["gopher_quality_gate"] = f"""
    WITH t AS (
        SELECT doc_id, text,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ),
    sig AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               ROUND((length(text) - len(toks) + 1) / len(toks), 4) AS mean_wl,
               len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))) AS n_stop,
               ROUND(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                     / length(text), 4) AS alpha_ratio,
               CASE WHEN len(toks) >= {REP_N} THEN
                   (SELECT list(array_to_string(toks[CAST(i AS BIGINT):CAST(i AS BIGINT) + {REP_N} - 1], ' '))
                    FROM unnest(range(1, len(toks) - {REP_N} + 2)) AS u(i))
               ELSE [] END AS grams
        FROM t
    ),
    sig2 AS (
        SELECT doc_id, n_tokens, mean_wl, n_stop, alpha_ratio,
               CASE WHEN len(grams) > 0
                    THEN ROUND((len(grams) - len(list_distinct(grams)))
                               / CAST(len(grams) AS DOUBLE), 4)
                    ELSE 0.0 END AS dup_frac
        FROM sig
    )
    SELECT doc_id, n_tokens,
           n_tokens >= {GOPHER_MIN_TOKENS} AND n_tokens <= {GOPHER_MAX_TOKENS}
               AS ok_token_count,
           mean_wl >= {GOPHER_MIN_MEAN_WORD_LEN}
               AND mean_wl <= {GOPHER_MAX_MEAN_WORD_LEN} AS ok_mean_word_len,
           n_stop >= {GOPHER_MIN_STOPWORDS} AS ok_stopwords,
           alpha_ratio >= {GOPHER_MIN_ALPHA_RATIO} AS ok_alpha_ratio,
           dup_frac <= {GOPHER_MAX_DUP_FRAC} AS ok_repetition,
           (n_tokens >= {GOPHER_MIN_TOKENS} AND n_tokens <= {GOPHER_MAX_TOKENS})
               AND (mean_wl >= {GOPHER_MIN_MEAN_WORD_LEN}
                    AND mean_wl <= {GOPHER_MAX_MEAN_WORD_LEN})
               AND n_stop >= {GOPHER_MIN_STOPWORDS}
               AND alpha_ratio >= {GOPHER_MIN_ALPHA_RATIO}
               AND dup_frac <= {GOPHER_MAX_DUP_FRAC} AS passes
    FROM sig2
"""

ORACLE_SQL["quality_by_source"] = f"""
    WITH scored AS ({ORACLE_SQL["quality_scores"]}),
    gate AS ({ORACLE_SQL["gopher_quality_gate"]})
    SELECT d.source,
           COUNT(1) AS n_docs,
           CAST(quantile_cont(s.n_tokens, 0.5) AS DOUBLE) AS median_tokens,
           ROUND(AVG(s.stopword_ratio), 4) AS mean_stopword_ratio,
           ROUND(AVG(s.alpha_ratio), 4) AS mean_alpha_ratio,
           ROUND(AVG(CASE WHEN g.passes THEN 1.0 ELSE 0.0 END), 4)
               AS gate_pass_rate
    FROM documents d
    JOIN scored s USING (doc_id)
    JOIN gate g USING (doc_id)
    GROUP BY d.source
"""

ORACLE_SQL["quality_filter"] = f"""
    WITH scored AS ({ORACLE_SQL["quality_scores"]}),
    th AS (
        SELECT quantile_cont(alpha_ratio, {QF_ALPHA_PCT}) AS alpha_th,
               quantile_cont(stopword_ratio, {QF_STOP_PCT}) AS stop_th
        FROM scored
    )
    SELECT doc_id, lang, n_tokens, stopword_ratio, alpha_ratio
    FROM scored, th
    WHERE alpha_ratio >= alpha_th AND stopword_ratio >= stop_th
"""

ORACLE_SQL["weighted_sample_docs"] = f"""
    WITH d AS (
        SELECT doc_id, source,
               len(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS n_tokens,
               (CAST('0x' || substring(md5('{WRS_SEED}:' ||
                    CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
                   / 4294967296.0 AS u
        FROM documents
    )
    SELECT doc_id, source, n_tokens,
           ROUND(ln(u) / n_tokens, 6) AS priority
    FROM d
    WHERE n_tokens > 0
    ORDER BY ln(u) / n_tokens DESC, doc_id ASC
    LIMIT {WRS_K}
"""

ORACLE_SQL["weighted_sample_by_source"] = f"""
    WITH d AS (
        SELECT doc_id, source,
               len(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS n_tokens,
               (CAST('0x' || substring(md5('{WRS_SEED}:' ||
                    CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
                   / 4294967296.0 AS u
        FROM documents
    )
    SELECT source, rank, doc_id, n_tokens,
           ROUND(ln(u) / n_tokens, 6) AS priority
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY ln(u) / n_tokens DESC, doc_id ASC
               ) AS rank
        FROM d WHERE n_tokens > 0
    )
    WHERE rank <= {WRS_PER_SOURCE_K}
"""

ORACLE_SQL["split_leakage_report"] = f"""
    WITH tagged AS (
        SELECT md5(text) AS digest,
               CASE WHEN substring(md5(text), 1, 4)
                        < '{SPLIT_TRAIN_CUTOFF}' THEN 'train'
                    WHEN substring(md5(text), 1, 4)
                        < '{SPLIT_VAL_CUTOFF}' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ),
    leaked AS (
        SELECT CAST(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_leaked_digests
        FROM (
            SELECT digest, COUNT(DISTINCT split) AS n_splits
            FROM tagged GROUP BY digest
        )
    )
    SELECT t.split, COUNT(1) AS n_docs,
           COUNT(DISTINCT t.digest) AS n_distinct_texts,
           l.n_leaked_digests
    FROM tagged t, leaked l
    GROUP BY t.split, l.n_leaked_digests
"""

ORACLE_SQL["quality_rank_by_source"] = """
    WITH t AS (
        SELECT doc_id, source,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ),
    s AS (
        SELECT doc_id, source,
               (len(list_filter(toks,
                    x -> x IN ('the','a','of','and','to','in','is','it')))
                * 1000000) // len(toks) AS stop_ppm
        FROM t WHERE len(toks) > 0
    ),
    r AS (
        SELECT doc_id, source, stop_ppm,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY stop_ppm, doc_id) AS rk,
               COUNT(1) OVER (PARTITION BY source) AS n
        FROM s
    )
    SELECT doc_id, source, CAST(stop_ppm AS BIGINT) AS stop_ppm,
           CAST(CASE WHEN n > 1 THEN ((rk - 1) * 1000000) // (n - 1)
                     ELSE 0 END AS BIGINT) AS rank_ppm
    FROM r
"""


ORACLE_SQL["lang_id_confusion"] = f"""
    WITH preds AS ({ORACLE_SQL["lang_id_scores"]})
    SELECT d.lang, p.predicted_lang, COUNT(*) AS n_docs
    FROM documents d JOIN preds p USING (doc_id)
    GROUP BY 1, 2
"""
