"""Bounded-memory sketching and resampling over the ``documents`` table.

Count-min sketch (Cormode & Muthukrishnan 2005) as pure DataFrame
aggregates: D hash rows × WIDTH buckets of counters, built with ONE
(d, bucket)-keyed shuffle that map-side combines — the frequency table
whose size is a CONSTANT (D·WIDTH counters) regardless of corpus size.
At 100 TB this is what you keep when the exact token count table no
longer fits anywhere: point estimates cost D bucket lookups and
overestimate only (est ≥ true, union-bound error ε ≈ e/WIDTH of the
total mass per row).

The hash family is md5-derived — row d reads hex chars [8d, 8d+8) of
``md5(token)``, so ONE digest per token supplies all four independent
32-bit hashes (md5's 128 bits = exactly D=4 lanes; computing one md5
instead of four is ~35% off the sketch build at sf0.1). NOT an engine
hash — so unlike most sketches the ENTIRE construction is
engine-agnostic and the DuckDB oracle verifies the sketch table and the
estimates bit-for-bit (the same digest idiom the deterministic samplers
use).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import split_tokens
from ..io import load_table

CMS_D = 4  # hash rows
CMS_WIDTH = 1024  # buckets per row
CMS_TOP_K = 20  # heavy hitters audited by the calibration report


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select(F.explode(split_tokens()).alias("token"))


def source_token_counts_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compute-once (source, token, n_st) unigram count table over the
    canonical `documents` tokenization (space-split, empties dropped) —
    the shared upstream of the whole distributional-profile family: the
    KL drift and Zipf fits read it directly, the HLL register/calibration
    entries derive registers and true distincts from its DISTINCT
    (source, token) pairs, and the CMS entries fold it to corpus
    (token, n) counts and fan DISTINCT tokens weighted by n instead of
    re-shuffling every token instance. One explode+aggregate per catalog
    pass serves them all (seams convention, plans/materialize.py);
    equality stays pinned by each consumer's own oracle."""
    from ..plans.materialize import materialized_frame

    return materialized_frame(
        spark,
        "source_token_counts",
        sf_dir,
        lambda: _source_token_counts_df(
            load_table(spark, sf_dir, "documents").select("source", "text")
        ),
    )


def _source_token_counts_df(docs: DataFrame) -> DataFrame:
    """`source_token_counts` core over any (source, text) frame: ONE
    groupBy(source, token) with map-side partials."""
    return (
        docs.select("source", F.explode(split_tokens()).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("n_st"))
    )


def corpus_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide (token, n) counts folded from the per-source seam —
    a distinct-token-sized aggregate, no second pass over the text."""
    return (
        source_token_counts_frame(spark, sf_dir)
        .groupBy("token")
        .agg(F.sum("n_st").alias("n"))
    )


def _bucket_expr(d_col: str, dig_col: str) -> str:
    """SQL for h_d — hex lane [8d, 8d+8) of an md5 digest column, mod
    WIDTH. Callers project ``md5(token)`` ONCE and every lane slices it."""
    return (
        f"cast(conv(substring({dig_col}, 1 + 8 * cast({d_col} as int), 8), "
        f"16, 10) as bigint) % {CMS_WIDTH}"
    )


def _cms_lanes(df: DataFrame, *keep: str) -> DataFrame:
    """(*keep, d, bucket) — the D lane rows of each row's `token`: ONE
    md5 digest per row, fanned out map-side by an in-array transform +
    explode (no join), every lane slicing the same digest."""
    return (
        df.select(*keep, F.md5("token").alias("dig"))
        .select(
            *keep,
            F.explode(
                F.expr(
                    f"transform(sequence(0, {CMS_D - 1}), d -> "
                    f"struct(cast(d as bigint) as d, {_bucket_expr('d', 'dig')} as bucket))"
                )
            ).alias("p"),
        )
        .select(*keep, "p.d", "p.bucket")
    )


def cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch table itself: (d, bucket, cnt) — D·WIDTH rows max.

    Plan: explode tokens → map-side fan-out to D (d, bucket) rows per
    token (in-array transform + explode, no join) → ONE groupBy(d,
    bucket) with map-side partials. The shuffle moves D rows per token
    but combines down to ≤ D·WIDTH rows per map task — at any corpus
    size the reduce side holds a constant-size table. This is the
    staging form: persist it next to the corpus and answer frequency
    probes without the exact count table.

    Compute-once seam: `cms_heavy_hitters` probes the identical table —
    one sketch build per catalog pass serves both (cache contract in
    plans/materialize.py; equality pinned by both entries' oracles).

    The catalog build rides the `source_token_counts` seam: the bucket
    histogram over token INSTANCES equals the n-weighted histogram over
    DISTINCT tokens (same token → same (d, bucket) lanes), so the ×D
    fan-out shuffles one row per distinct token instead of one per
    instance — the core form (`cms_sketch_df`) keeps the
    instance-level single-aggregate shape."""
    from ..plans.materialize import materialized_frame

    def _build() -> DataFrame:
        return (
            _cms_lanes(corpus_token_counts(spark, sf_dir), "n")
            .groupBy("d", "bucket")
            .agg(F.sum("n").alias("cnt"))
        )

    return materialized_frame(spark, "cms_sketch", sf_dir, _build)


def cms_sketch_df(docs: DataFrame) -> DataFrame:
    """`cms_sketch` core over any (text) frame: the instance-level
    single-aggregate build (one lane row per token instance) that the
    plan audit in test_plans.py pins and the merge and scale tests
    build on."""
    return (
        _cms_lanes(_tokens(docs))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-calibration report: the top-k tokens by TRUE count with
    their count-min estimates — (token, n, cms_est, overestimate). The
    audit you run at small scale before trusting the sketch at large
    scale; `overestimate` is exactly the collision mass in the token's
    least-loaded bucket (always ≥ 0 — the count-min guarantee, pinned
    for EVERY token in tests).

    Plan: true counts fold from the `source_token_counts` seam (no
    second text pass) with a distributed top-k (TakeOrderedAndProject);
    the k probes join the D·WIDTH sketch on (d, bucket) as a broadcast;
    min-over-D is a k-group aggregate."""
    counts = corpus_token_counts(spark, sf_dir)
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(CMS_TOP_K)
    probes = _cms_lanes(top, "token", "n")
    sketch = cms_sketch(spark, sf_dir)
    return (
        F.broadcast(probes)
        .join(sketch, ["d", "bucket"])
        .groupBy("token", "n")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            "token",
            "n",
            "cms_est",
            (F.col("cms_est") - F.col("n")).alias("overestimate"),
        )
    )


CMS_ABSENT_PROBES = ("zzqqneverseenprobeone", "zzqqneverseenprobetwo")


def cms_probe_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-time POINT probes against the staged sketch — the query
    the persisted table exists to answer: estimated counts for a probe
    set that mixes the 3 true heaviest tokens with two tokens known to
    be ABSENT from the corpus. Present probes show est ≥ true (collision
    mass only); absent probes show the floor directly — their estimate
    IS the collision mass of their least-loaded bucket (0 if any lane
    bucket is empty: the sketch LEFT-joins and missing cells count 0,
    exactly the array-of-zeros semantics of a real CMS).

    Plan: probes are a ≤5-row frame — the lane fan-out and the sketch
    join are broadcasts; true counts fold from the `source_token_counts`
    seam, the same table the heavy-hitter report reads."""
    counts = corpus_token_counts(spark, sf_dir)
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(3).select("token")
    absent = spark.createDataFrame(
        [(t,) for t in CMS_ABSENT_PROBES], "token string"
    )
    probes = top.unionByName(absent)
    true = (
        probes.join(counts, "token", "left")
        .select("token", F.coalesce("n", F.lit(0)).alias("n_true"))
    )
    lanes = _cms_lanes(true, "token", "n_true")
    sketch = cms_sketch(spark, sf_dir)
    return (
        F.broadcast(lanes)
        .join(sketch, ["d", "bucket"], "left")
        .groupBy("token", "n_true")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cms_est"))
        .select(
            "token",
            "n_true",
            "cms_est",
            (F.col("cms_est") - F.col("n_true")).alias("overestimate"),
        )
    )


_CMS_TOKENS_CTE = """
    WITH toks AS (
        SELECT unnest(list_filter(string_split(text, ' '), t -> t <> ''))
            AS token
        FROM documents
    )
"""

ORACLE_SQL: dict[str, str] = {
    "cms_sketch": f"""
        {_CMS_TOKENS_CTE},
        rows AS (
            SELECT CAST(d AS BIGINT) AS d,
                   CAST('0x' || substring(md5(token), 1 + 8 * CAST(d AS INT), 8)
                        AS BIGINT) % {CMS_WIDTH} AS bucket
            FROM toks, LATERAL (SELECT unnest(range({CMS_D})) AS d) t
        )
        SELECT d, bucket, COUNT(1) AS cnt FROM rows GROUP BY d, bucket
    """,
    "cms_heavy_hitters": f"""
        {_CMS_TOKENS_CTE},
        counts AS (SELECT token, COUNT(1) AS n FROM toks GROUP BY token),
        top AS (
            SELECT token, n FROM counts
            ORDER BY n DESC, token ASC LIMIT {CMS_TOP_K}
        ),
        rows AS (
            SELECT CAST(d AS BIGINT) AS d,
                   CAST('0x' || substring(md5(token), 1 + 8 * CAST(d AS INT), 8)
                        AS BIGINT) % {CMS_WIDTH} AS bucket
            FROM toks, LATERAL (SELECT unnest(range({CMS_D})) AS d) t
        ),
        sketch AS (SELECT d, bucket, COUNT(1) AS cnt FROM rows GROUP BY d, bucket),
        probes AS (
            SELECT p.token, p.n, CAST(d AS BIGINT) AS d,
                   CAST('0x' || substring(md5(p.token), 1 + 8 * CAST(d AS INT), 8)
                        AS BIGINT) % {CMS_WIDTH} AS bucket
            FROM top p, LATERAL (SELECT unnest(range({CMS_D})) AS d) t
        )
        SELECT p.token, p.n, MIN(s.cnt) AS cms_est,
               MIN(s.cnt) - p.n AS overestimate
        FROM probes p JOIN sketch s ON p.d = s.d AND p.bucket = s.bucket
        GROUP BY p.token, p.n
    """,
}


# ---------------------------------------------------------------------------
# Poisson bootstrap (resampling without materializing resamples)
# ---------------------------------------------------------------------------

BOOT_R = 32  # bootstrap replicates
# Poisson(1) inverse-CDF thresholds on a 32-bit uniform, as EXACT integer
# literals (floor(CDF_k · 2³²)) so the sampler is an integer comparison —
# bit-identical in every engine, no float boundary anywhere.
BOOT_T = (1580030168, 3160060337, 3950075421, 4213413783, 4279248373, 4292415291)
BOOT_Z = 1.96  # normal-approximation CI half-width multiplier


def _poisson_weight_sql(u: str) -> str:
    """SQL expression mapping a 32-bit uniform to a Poisson(1) draw
    (capped at 6, total tail mass ~6e-4) — the per-(doc, replicate)
    resample weight of the Poisson bootstrap: at corpus scale, instead of
    materializing R resampled corpora, every row carries R independent
    Poisson(1) multiplicities and each replicate is a weighted aggregate.

    The uniform expression ``u`` (md5 + conv) is bound ONCE via the
    ``transform(array(u), v -> CASE ...)[0]`` let idiom — same digest-once
    discipline as the CMS lanes — rather than re-embedding it in every
    WHEN branch (6× per (doc, replicate), ~200 md5 evals per doc at R=32
    if Catalyst's subexpression elimination didn't fire inside the
    enclosing transform lambda)."""
    cases = " ".join(f"WHEN v < {t} THEN {k}" for k, t in enumerate(BOOT_T))
    return f"transform(array({u}), v -> CASE {cases} ELSE 6 END)[0]"


def bootstrap_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mean-token-count with a bootstrap confidence interval —
    the uncertainty a curation dashboard should print next to every
    corpus metric (a 25-doc source's mean is noise; a 25M-doc source's
    is not — the CI is what says so).

    Poisson bootstrap (Chamandy et al., "Estimating Uncertainty for
    Massive Data Streams", the standard map-reduce form): replicate r
    resamples each document with weight ~ Poisson(1), derived here from
    the md5-uniform of (r, doc_id) via integer thresholds — fully
    deterministic and engine-agnostic, so the whole estimator is
    DuckDB-oracle-checked. Point estimate, bootstrap mean/std over R
    replicates, and the ±1.96σ normal-approximation interval.

    Plan: ONE documents scan — one in-array fan-out to R (replicate,
    weight) structs per doc (map-side, no join), ONE (source, replicate)
    aggregate with map-side partials (R·sources cells) that ALSO carries
    the point-estimate inputs (per-replicate doc count and exact token
    sum — identical across replicates, so MAX recovers them), then a
    source-keyed stddev over R rows per source. No second scan, no
    join-back — every shuffle is on keys whose cardinality the config
    controls, never on data volume.
    Batch-only by design: a bootstrap CI is a statement about a frozen
    corpus snapshot (each replicate reweights EVERY document), so it is
    re-run on snapshots, not folded batch by batch into running state."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    n_tokens = F.size(split_tokens())
    u = (
        "cast(conv(substring(md5(concat(cast(r as string), ':', "
        "cast(doc_id as string))), 1, 8), 16, 10) as bigint)"
    )
    fan = docs.select(
        "source",
        n_tokens.alias("n_tokens"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {BOOT_R - 1}), r -> struct("
                f"cast(r as bigint) as replicate, "
                f"{_poisson_weight_sql(u)} as w))"
            )
        ).alias("p"),
    ).select("source", "n_tokens", "p.replicate", "p.w")
    per_rep = fan.groupBy("source", "replicate").agg(
        (
            F.sum(F.col("w") * F.col("n_tokens"))
            / F.nullif(F.sum("w"), F.lit(0))
        ).alias("rep_mean"),
        F.count(F.lit(1)).alias("n_docs_rep"),
        F.sum("n_tokens").alias("sum_tokens_rep"),
    )
    boot = per_rep.groupBy("source").agg(
        F.avg("rep_mean").alias("boot_mean"),
        F.stddev_samp("rep_mean").alias("boot_std"),
        F.max("n_docs_rep").alias("n_docs"),
        F.max("sum_tokens_rep").alias("sum_tokens"),
    )
    return boot.select(
        "source",
        "n_docs",
        F.round(F.col("sum_tokens") / F.col("n_docs"), 4).alias("mean_tokens"),
        F.round("boot_mean", 4).alias("boot_mean"),
        F.round("boot_std", 4).alias("boot_std"),
        F.round(
            F.col("boot_mean") - F.lit(BOOT_Z) * F.col("boot_std"), 4
        ).alias("ci_lo"),
        F.round(
            F.col("boot_mean") + F.lit(BOOT_Z) * F.col("boot_std"), 4
        ).alias("ci_hi"),
    )


_BOOT_CASES = " ".join(f"WHEN u < {t} THEN {k}" for k, t in enumerate(BOOT_T))

ORACLE_SQL["bootstrap_source_stats"] = f"""
    WITH d AS (
        SELECT doc_id, source,
               len(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS n_tokens
        FROM documents
    ),
    fan AS (
        SELECT source, n_tokens, CAST(r AS BIGINT) AS replicate,
               (CASE {_BOOT_CASES} ELSE 6 END) AS w
        FROM (
            SELECT source, n_tokens,
                   CAST('0x' || substring(md5(CAST(r AS VARCHAR) || ':' ||
                        CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS u,
                   r
            FROM d, LATERAL (SELECT unnest(range({BOOT_R})) AS r) t
        )
    ),
    per_rep AS (
        SELECT source, replicate,
               SUM(w * n_tokens) / NULLIF(SUM(w), 0) AS rep_mean
        FROM fan GROUP BY source, replicate
    ),
    boot AS (
        SELECT source, AVG(rep_mean) AS boot_mean,
               STDDEV_SAMP(rep_mean) AS boot_std
        FROM per_rep GROUP BY source
    ),
    point AS (
        SELECT source, COUNT(1) AS n_docs, AVG(n_tokens) AS mean_tokens
        FROM d GROUP BY source
    )
    SELECT p.source, p.n_docs,
           ROUND(p.mean_tokens, 4) AS mean_tokens,
           ROUND(b.boot_mean, 4) AS boot_mean,
           ROUND(b.boot_std, 4) AS boot_std,
           ROUND(b.boot_mean - {BOOT_Z} * b.boot_std, 4) AS ci_lo,
           ROUND(b.boot_mean + {BOOT_Z} * b.boot_std, 4) AS ci_hi
    FROM point p JOIN boot b ON p.source = b.source
"""


# ---------------------------------------------------------------------------
# HyperLogLog (bounded-memory distinct counting, mergeable registers)
# ---------------------------------------------------------------------------

HLL_B = 6  # bucket bits
HLL_M = 1 << HLL_B  # 64 registers per key
HLL_VBITS = 26  # value bits left in the 32-bit md5 uniform after bucketing
# alpha_m for the raw estimator, spelled as the same literal arithmetic in
# both engines (Flajolet et al. 2007). Every leaf constant is CAST to
# DOUBLE (DECISIONS #20): a bare decimal literal parses as DECIMAL and
# each engine then picks its own exact-vs-float path (Spark kept the
# division exact, DuckDB went double — measured 3.4e-6 apart), which can
# flip the estimator's e_raw <= 2.5m branch at the boundary even though
# the small-corpus outputs agree.
HLL_ALPHA = (
    f"(CAST(0.7213 AS DOUBLE) / "
    f"(CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / {HLL_M}))"
)


def _rho_sql(v: str) -> str:
    """SQL CASE for rho(v) = (trailing zeros of v) + 1, v = 0 → VBITS+1 —
    a geometric(1/2) rank from pure integer arithmetic, so the registers
    themselves are engine-agnostic (the sketch, not just the estimate,
    is oracle-checkable — same idiom as the count-min table)."""
    branches = " ".join(
        f"WHEN {v} % {1 << (k + 1)} = {1 << k} THEN {k + 1}"
        for k in range(HLL_VBITS)
    )
    return f"CASE WHEN {v} = 0 THEN {HLL_VBITS + 1} {branches} END"


_HLL_U32 = "cast(conv(substring(md5(token), 1, 8), 16, 10) as bigint)"


def hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source HLL register table: (source, bucket, max_rho) — at most
    M=64 rows per source at ANY corpus size, built with ONE
    (source, bucket)-keyed aggregate that map-side combines.

    This is the staging/mergeable form — registers from disjoint corpus
    shards (or days, or crawls) combine by elementwise MAX, so the 100 TB
    distinct-count never recomputes history: persist the register table,
    max-merge the new shard's registers in (mergeability pinned in
    tests). Duplicate tokens cost nothing: same token → same (bucket,
    rho), and MAX absorbs them — that is the whole point of the sketch.
    The catalog entry derives the registers from the
    `source_token_counts` seam's distinct pairs (identical by the same
    MAX-absorption argument); `hll_registers_df` keeps the
    instance-level single-aggregate shape.
    """
    pairs = source_token_counts_frame(spark, sf_dir).select("source", "token")
    return _hll_registers(pairs, "source")


def _hll_registers(rows: DataFrame, key: str) -> DataFrame:
    """(key, bucket, max_rho) over a (key, token) frame: bucket and rho
    from the token's md5 uniform, then ONE (key, bucket)-keyed MAX
    aggregate with map-side partials — ≤ M rows per key."""
    return (
        rows.select(
            key,
            F.expr(f"{_HLL_U32} % {HLL_M}").alias("bucket"),
            F.expr(_rho_sql(f"({_HLL_U32} div {HLL_M})")).alias("rho"),
        )
        .groupBy(key, "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def _hll_estimate(regs: DataFrame, keys: list[str]) -> DataFrame:
    """(*keys, z_num, n_present, hll_est) from a register table grouped
    by `keys`: the raw harmonic-mean estimate with the small-range
    linear-counting switch. Z's numerator is summed as exact INTEGERS
    (2^(VBITS+1-rho) per register), so the aggregate is
    order-independent and the only floats are the per-group estimate
    arithmetic."""
    agg = regs.groupBy(*keys).agg(
        F.expr(
            f"sum(cast(power(2.0, {HLL_VBITS + 1} - max_rho) as bigint))"
        ).alias("z_num"),
        F.count(F.lit(1)).alias("n_present"),
    )
    scale = float(1 << (HLL_VBITS + 1))
    z = (F.col("z_num") + (F.lit(HLL_M) - F.col("n_present")) * F.lit(scale)) / F.lit(scale)
    e_raw = F.expr(HLL_ALPHA) * F.lit(HLL_M) * F.lit(HLL_M) / z
    v_zero = F.lit(HLL_M) - F.col("n_present")
    est = F.when(
        (e_raw <= F.lit(2.5 * HLL_M)) & (v_zero > 0),
        F.lit(HLL_M) * F.log(F.lit(float(HLL_M)) / v_zero),
    ).otherwise(e_raw)
    return agg.withColumn("hll_est", est)


def hll_registers_df(docs: DataFrame) -> DataFrame:
    """`hll_registers` core over any (source, text) frame: the
    instance-level single-aggregate build (one row per token instance)
    that the merge and scale tests build on."""
    tokens = docs.select("source", F.explode(split_tokens()).alias("token"))
    return _hll_registers(tokens, "source")


def merge_cms_sketches(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a new shard's count-min table into a persisted one — CMS
    counters are pure sums, so the merge is elementwise ADDITION per
    (d, bucket): sketch(A ∪ B) = sketch(A) + sketch(B), exactly. The
    count-min twin of `merge_hll_registers`: each crawl/day/shard builds
    its own constant-size table from its data alone and the corpus-
    lifetime sketch is maintained by this ≤ D·WIDTH-row merge without
    revisiting history. Shard-split-merge equality with the from-scratch
    build is pinned in tests (test_scale_smoke.py)."""
    return (
        base.unionByName(delta)
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def merge_hll_registers(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a new shard's register table into a persisted one —
    elementwise MAX per (source, bucket). This is the whole incremental-
    maintenance story at 100 TB: each crawl/day/shard builds its own
    64-register table from its data alone, and the corpus-lifetime
    distinct count is maintained by this tiny merge (≤ sources·M rows a
    side) without ever revisiting history. Register equality with the
    from-scratch build is pinned in tests."""
    return (
        base.unionByName(delta)
        .groupBy("source", "bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )


def hll_distinct_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration report: per-source TRUE distinct-token count vs the
    HLL estimate from the 64-register sketch — (source, n_true, hll_est,
    rel_err). The audit you run at small scale before trusting the
    register table at large scale (expected |rel_err| ~ 1.04/√64 ≈ 13%).

    The estimate is `_hll_estimate`'s; its only floats are the final
    20-row estimate arithmetic, rounded on both sides of the
    differential."""
    est = _hll_estimate(hll_registers(spark, sf_dir), ["source"])
    # true distincts = row count per source of the (source, token) seam
    true = (
        source_token_counts_frame(spark, sf_dir)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    report = true.join(F.broadcast(est), "source")
    return report.select(
        "source",
        "n_true",
        F.round("hll_est", 4).alias("hll_est"),
        F.round(
            (F.col("hll_est") - F.col("n_true")) / F.col("n_true"), 4
        ).alias("rel_err"),
    )


def hll_total_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide distinct-token estimate computed by UNIONING the
    per-source register tables (elementwise MAX across sources) — the
    catalog's proof that the merge operator composes: the union of
    sketches IS the sketch of the union, so the corpus total never needs
    a second corpus pass over what the per-source tables already read.
    One row: true distinct count, register-union estimate, relative
    error (same estimator arithmetic as the per-source report)."""
    regs = hll_registers(spark, sf_dir)
    merged = regs.groupBy("bucket").agg(F.max("max_rho").alias("max_rho"))
    est = _hll_estimate(merged, [])
    true = (
        source_token_counts_frame(spark, sf_dir)
        .agg(F.countDistinct("token").alias("n_true"))
    )
    return true.join(F.broadcast(est)).select(
        "n_true",
        F.round("hll_est", 4).alias("hll_est"),
        F.round(
            (F.col("hll_est") - F.col("n_true")) / F.col("n_true"), 4
        ).alias("rel_err"),
    )


_HLL_SRC_TOKENS_CTE = """
    WITH toks AS (
        SELECT source,
               unnest(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS token
        FROM documents
    )
"""

_HLL_U32_DUCK = "CAST('0x' || substring(md5(token), 1, 8) AS BIGINT)"

_HLL_REG_SQL = f"""
    {_HLL_SRC_TOKENS_CTE},
    rows AS (
        SELECT source,
               {_HLL_U32_DUCK} % {HLL_M} AS bucket,
               ({_rho_sql(f"({_HLL_U32_DUCK} // {HLL_M})")}) AS rho
        FROM toks
    ),
    regs AS (
        SELECT source, bucket, MAX(rho) AS max_rho
        FROM rows GROUP BY source, bucket
    )
"""

ORACLE_SQL["hll_registers"] = f"""
    {_HLL_REG_SQL}
    SELECT source, bucket, max_rho FROM regs
"""

ORACLE_SQL["hll_distinct_by_source"] = f"""
    {_HLL_REG_SQL},
    agg AS (
        SELECT source,
               SUM(CAST(POWER(2, {HLL_VBITS + 1} - max_rho) AS BIGINT)) AS z_num,
               COUNT(1) AS n_present
        FROM regs GROUP BY source
    ),
    est AS (
        SELECT source,
               CASE WHEN ({HLL_ALPHA} * {HLL_M} * {HLL_M}
                          / ((z_num + ({HLL_M} - n_present) * {float(1 << (HLL_VBITS + 1))})
                             / {float(1 << (HLL_VBITS + 1))})) <= {2.5 * HLL_M}
                         AND ({HLL_M} - n_present) > 0
                    THEN {HLL_M} * ln({float(HLL_M)} / ({HLL_M} - n_present))
                    ELSE {HLL_ALPHA} * {HLL_M} * {HLL_M}
                         / ((z_num + ({HLL_M} - n_present) * {float(1 << (HLL_VBITS + 1))})
                            / {float(1 << (HLL_VBITS + 1))})
               END AS hll_est
        FROM agg
    ),
    tru AS (
        SELECT source, COUNT(DISTINCT token) AS n_true FROM toks GROUP BY source
    )
    SELECT t.source, t.n_true,
           ROUND(e.hll_est, 4) AS hll_est,
           ROUND((e.hll_est - t.n_true) / t.n_true, 4) AS rel_err
    FROM tru t JOIN est e ON t.source = e.source
"""

ORACLE_SQL["hll_total_distinct"] = f"""
    {_HLL_REG_SQL},
    merged AS (
        SELECT bucket, MAX(max_rho) AS max_rho FROM regs GROUP BY bucket
    ),
    agg AS (
        SELECT SUM(CAST(POWER(2, {HLL_VBITS + 1} - max_rho) AS BIGINT)) AS z_num,
               COUNT(1) AS n_present
        FROM merged
    ),
    est AS (
        SELECT CASE WHEN ({HLL_ALPHA} * {HLL_M} * {HLL_M}
                          / ((z_num + ({HLL_M} - n_present) * {float(1 << (HLL_VBITS + 1))})
                             / {float(1 << (HLL_VBITS + 1))})) <= {2.5 * HLL_M}
                         AND ({HLL_M} - n_present) > 0
                    THEN {HLL_M} * ln({float(HLL_M)} / ({HLL_M} - n_present))
                    ELSE {HLL_ALPHA} * {HLL_M} * {HLL_M}
                         / ((z_num + ({HLL_M} - n_present) * {float(1 << (HLL_VBITS + 1))})
                            / {float(1 << (HLL_VBITS + 1))})
               END AS hll_est
        FROM agg
    ),
    tru AS (SELECT COUNT(DISTINCT token) AS n_true FROM toks)
    SELECT t.n_true,
           ROUND(e.hll_est, 4) AS hll_est,
           ROUND((e.hll_est - t.n_true) / t.n_true, 4) AS rel_err
    FROM tru t, est e
"""

_CMS_PROBE_VALUES = ", ".join(f"('{t}')" for t in CMS_ABSENT_PROBES)

ORACLE_SQL["cms_probe_report"] = f"""
    {_CMS_TOKENS_CTE},
    counts AS (SELECT token, COUNT(1) AS n FROM toks GROUP BY token),
    top AS (
        SELECT token FROM counts ORDER BY n DESC, token ASC LIMIT 3
    ),
    probes AS (
        SELECT token FROM top
        UNION ALL SELECT * FROM (VALUES {_CMS_PROBE_VALUES}) v(token)
    ),
    tru AS (
        SELECT p.token, COALESCE(c.n, 0) AS n_true
        FROM probes p LEFT JOIN counts c ON p.token = c.token
    ),
    rows AS (
        SELECT CAST(d AS BIGINT) AS d,
               CAST('0x' || substring(md5(token), 1 + 8 * CAST(d AS INT), 8)
                    AS BIGINT) % {CMS_WIDTH} AS bucket
        FROM toks, LATERAL (SELECT unnest(range({CMS_D})) AS d) t
    ),
    sketch AS (SELECT d, bucket, COUNT(1) AS cnt FROM rows GROUP BY d, bucket),
    lanes AS (
        SELECT t.token, t.n_true, CAST(d AS BIGINT) AS d,
               CAST('0x' || substring(md5(t.token), 1 + 8 * CAST(d AS INT), 8)
                    AS BIGINT) % {CMS_WIDTH} AS bucket
        FROM tru t, LATERAL (SELECT unnest(range({CMS_D})) AS d) x
    )
    SELECT l.token, l.n_true,
           MIN(COALESCE(s.cnt, 0)) AS cms_est,
           MIN(COALESCE(s.cnt, 0)) - l.n_true AS overestimate
    FROM lanes l LEFT JOIN sketch s ON l.d = s.d AND l.bucket = s.bucket
    GROUP BY l.token, l.n_true
"""


# ---------------------------------------------------------------------------
# HDR/DDSketch-style log histogram (bounded-memory quantiles, mergeable)
# ---------------------------------------------------------------------------

HDR_SUB_BITS = 4  # subbuckets per octave = 2^4 → relative error ≤ 2^-4
HDR_SUB = 1 << HDR_SUB_BITS
HDR_SCALE = 100  # 2-decimal integer lattice: iv = floor(value·100 + 0.5)
HDR_QS = (0.5, 0.9, 0.99)  # quantiles the calibration report probes


def _hdr_bucket_expr(value_col: str) -> str:
    """Spark SQL mapping a non-negative value to its log-histogram bucket
    (HdrHistogram / DDSketch's bucketing, on an INTEGER lattice so the
    construction is engine-agnostic like the CMS/HLL families — no float
    log anywhere, no cross-engine boundary ambiguity):

        iv     = floor(value·SCALE + 0.5)          (exact integer lattice)
        shift  = max(0, bit_length(iv) - 1 - SUB_BITS)
        bucket = shift·2^SUB_BITS + (iv >> shift)

    HdrHistogram's linearization: shift=0 yields buckets 0..31 (one
    EXACT lattice point each — iv < 2·SUB never loses precision); each
    higher octave occupies the next SUB ids with (iv >> shift) landing
    in [SUB, 2·SUB), so ids never collide and any bucket's
    width/lower-bound ≤ 1/16 — a ~3% mid-point quantile estimate from a
    table whose size grows with log(max value), not data volume.
    bit_length comes from length(bin(iv)) — identical digit semantics in
    Spark and DuckDB. Intermediates are bound once with the
    transform-array let idiom (the digest-once discipline of the CMS
    lanes)."""
    return (
        f"transform(array(cast(floor({value_col} * {HDR_SCALE} + 0.5d) as bigint)), iv -> "
        f"  transform(array(greatest(0, length(bin(iv)) - 1 - {HDR_SUB_BITS})), sh -> "
        f"    sh * {HDR_SUB} + shiftright(iv, cast(sh as int)) "
        f"  )[0] "
        f")[0]"
    )


def _hdr_bounds_exprs() -> tuple[str, str]:
    """(lb, ub) SQL over a `bucket` column — the bucket's exact integer
    value range on the lattice, derived from the bucket id alone (so a
    merged or persisted sketch reconstructs its bounds without data):
    shift = max(0, bucket div SUB − 1), top = bucket − shift·SUB — the
    exact inverse of `_hdr_bucket_expr`'s linearization (buckets < 2·SUB
    get shift 0 and lb = ub = bucket)."""
    shift = f"greatest(0, bucket div {HDR_SUB} - 1)"
    top = f"(bucket - ({shift}) * {HDR_SUB})"
    lb = f"shiftleft(cast({top} as bigint), cast({shift} as int))"
    ub = (
        f"(shiftleft(cast({top} + 1 as bigint), cast({shift} as int)) - 1)"
    )
    return lb, ub


def hdr_value_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile sketch of `events.value`: (bucket, cnt, lb, ub) —
    one row per occupied log-histogram bucket, O(log(max)·2^SUB_BITS)
    rows at ANY data volume. Completes the bounded-memory sketch suite:
    CMS answers frequency, HLL answers distinct, this answers
    DISTRIBUTION (p50/p90/p99 tails) — the latency/price/size dashboard
    staple. Unlike `percentile_approx`'s t-digest, the construction is
    fully engine-agnostic (integer bucketing), so the sketch TABLE
    itself is DuckDB-oracle-checked bit-for-bit — and it merges by plain
    counter addition (`merge_hdr_sketches`, shard-split-merge pinned).

    Contract: values are non-negative (the events lattice); a signed
    variant would carry a sign lane the way DDSketch does.

    Plan: map-side bucket expression, ONE combiner-friendly
    groupBy(bucket) — the reduce side holds a constant-size table
    (the cms_sketch shape). Compute-once seam shared with
    `hdr_value_quantiles`."""
    from ..plans.materialize import materialized_frame

    return materialized_frame(
        spark,
        "hdr_value_sketch",
        sf_dir,
        lambda: hdr_sketch_df(
            load_table(spark, sf_dir, "events").select("value")
        ),
    )


def hdr_sketch_df(values: DataFrame) -> DataFrame:
    """`hdr_value_sketch` core over any (value) frame: the single
    combiner-friendly aggregate that the plan audit in test_plans.py
    pins and the merge and scale tests build on."""
    lb, ub = _hdr_bounds_exprs()
    return (
        values.select(F.expr(_hdr_bucket_expr("value")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "bucket",
            "cnt",
            F.expr(lb).alias("lb"),
            F.expr(ub).alias("ub"),
        )
    )


def merge_hdr_sketches(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a new shard's histogram into a persisted one — counters are
    pure sums, so sketch(A ∪ B) = sketch(A) + sketch(B) exactly, per
    bucket; lb/ub are functions of the bucket id and survive the merge
    unchanged. Same incremental-maintenance contract as
    `merge_cms_sketches` / `merge_hll_registers`; shard-split-merge
    equality pinned in test_scale_smoke.py."""
    return (
        base.unionByName(delta)
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"), F.min("lb").alias("lb"), F.min("ub").alias("ub"))
    )


def hdr_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration report: for each probed quantile q, the sketch's
    mid-point estimate vs the TRUE interpolated percentile — (q, n_rank,
    est, true_value, rel_err). The audit you run at small scale before
    trusting the histogram's tail estimates at large scale; |rel_err| is
    bounded by the bucket half-width (≤ 2^-SUB_BITS/2 ≈ 3%), pinned for
    every probe in tests.

    Plan: the cumulative rank is a window over the SKETCH (constant-size
    input — the single-partition WindowExec is over ≤ a few hundred
    rows, by construction, not a data-volume sort); the probe set is a
    3-row literal broadcast; the only data-volume pass is the exact
    percentile's own aggregate, which exists precisely to calibrate the
    sketch against."""
    sk = hdr_value_sketch(spark, sf_dir)
    from pyspark.sql.window import Window as W

    cum = sk.select(
        "bucket",
        "lb",
        "ub",
        F.sum("cnt")
        .over(W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum"),
    )
    total = sk.agg(F.sum("cnt").alias("total"))
    qs = spark.createDataFrame([(q,) for q in HDR_QS], "q double")
    ranks = qs.join(F.broadcast(total)).select(
        "q", F.ceil(F.col("q") * F.col("total")).cast("long").alias("n_rank")
    )
    hit = (
        ranks.join(F.broadcast(cum), F.col("cum") >= F.col("n_rank"))
        .groupBy("q", "n_rank")
        .agg(F.min_by(F.struct("lb", "ub"), "bucket").alias("b"))
        .select("q", "n_rank", ((F.col("b.lb") + F.col("b.ub")) / F.lit(2.0 * HDR_SCALE)).alias("est"))
    )
    ev = load_table(spark, sf_dir, "events")
    tru = ev.agg(
        *[
            F.expr(f"percentile(value, {q}d)").alias(f"t{i}")
            for i, q in enumerate(HDR_QS)
        ]
    ).select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(q).alias("q"), F.col(f"t{i}").alias("true_value"))
                    for i, q in enumerate(HDR_QS)
                ]
            )
        ).alias("s")
    ).select("s.q", "s.true_value")
    return hit.join(F.broadcast(tru), "q").select(
        "q",
        "n_rank",
        F.round("est", 4).alias("est"),
        F.round("true_value", 4).alias("true_value"),
        F.round((F.col("est") - F.col("true_value")) / F.col("true_value"), 4).alias(
            "rel_err"
        ),
    )


_HDR_BUCKET_DUCK = (
    f"list_transform([CAST(floor(value * {HDR_SCALE} + 0.5) AS BIGINT)], iv -> "
    f"  list_transform([greatest(0, length(bin(iv)) - 1 - {HDR_SUB_BITS})], sh -> "
    f"    sh * {HDR_SUB} + (iv >> sh) "
    f"  )[1] "
    f")[1]"
)

_HDR_SHIFT_DUCK = f"greatest(0, bucket // {HDR_SUB} - 1)"
_HDR_TOP_DUCK = f"(bucket - ({_HDR_SHIFT_DUCK}) * {HDR_SUB})"
_HDR_LB_DUCK = f"({_HDR_TOP_DUCK} << ({_HDR_SHIFT_DUCK}))"
_HDR_UB_DUCK = f"((({_HDR_TOP_DUCK} + 1) << ({_HDR_SHIFT_DUCK})) - 1)"

ORACLE_SQL["hdr_value_sketch"] = f"""
    WITH b AS (
        SELECT {_HDR_BUCKET_DUCK} AS bucket FROM events
    ),
    sk AS (SELECT bucket, COUNT(1) AS cnt FROM b GROUP BY bucket)
    SELECT bucket, cnt, {_HDR_LB_DUCK} AS lb, {_HDR_UB_DUCK} AS ub FROM sk
"""

_HDR_Q_VALUES = ", ".join(f"({q})" for q in HDR_QS)
# quantile_cont demands a CONSTANT parameter in DuckDB — spell one SELECT
# per probed q instead of grouping over the qs list
_HDR_TRU_UNION = "\n        UNION ALL ".join(
    f"SELECT CAST({q} AS DOUBLE) AS q, "
    f"quantile_cont(value, {q}) AS true_value FROM events"
    for q in HDR_QS
)

ORACLE_SQL["hdr_value_quantiles"] = f"""
    WITH b AS (
        SELECT {_HDR_BUCKET_DUCK} AS bucket FROM events
    ),
    sk AS (SELECT bucket, COUNT(1) AS cnt FROM b GROUP BY bucket),
    bounds AS (
        SELECT bucket, cnt, {_HDR_LB_DUCK} AS lb, {_HDR_UB_DUCK} AS ub FROM sk
    ),
    cum AS (
        SELECT bucket, lb, ub,
               SUM(cnt) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM bounds
    ),
    tot AS (SELECT SUM(cnt) AS total FROM sk),
    qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES {_HDR_Q_VALUES}) v(q)),
    ranks AS (
        SELECT q, CAST(ceil(q * total) AS BIGINT) AS n_rank FROM qs, tot
    ),
    hit AS (
        SELECT r.q, r.n_rank,
               MIN(c.bucket) AS est_bucket
        FROM ranks r JOIN cum c ON c.cum >= r.n_rank
        GROUP BY r.q, r.n_rank
    ),
    est AS (
        SELECT h.q, h.n_rank,
               (c.lb + c.ub) / {2.0 * HDR_SCALE} AS est
        FROM hit h JOIN cum c ON h.est_bucket = c.bucket
    ),
    tru AS (
        {_HDR_TRU_UNION}
    )
    SELECT e.q, e.n_rank,
           ROUND(e.est, 4) AS est,
           ROUND(t.true_value, 4) AS true_value,
           ROUND((e.est - t.true_value) / t.true_value, 4) AS rel_err
    FROM est e JOIN tru t ON e.q = t.q
"""


# ---------------------------------------------------------------------------
# KMV / bottom-k theta sketch (set algebra: intersection & Jaccard at scale)
# ---------------------------------------------------------------------------

KMV_K = 256  # sketch size: the K smallest hash values per set
KMV_SHINGLE_N = 3  # word-shingle width (Broder resemblance's unit)
KMV_HASH_BITS = 60  # 15 md5 hex chars → [0, 2^60), ANSI-safe under 2^62


def _kmv_shingle_rows(docs: DataFrame) -> DataFrame:
    """(source, h) — DISTINCT 60-bit md5 hashes of word trigram shingles
    per source. The shingle string is formed and hashed in one lambda
    (never materialized as a column); the hash is md5-derived like the
    CMS/HLL lanes, so the sketch construction is engine-agnostic and the
    DuckDB oracle checks the sketch TABLE bit-for-bit. Unigrams would be
    the wrong unit here twice over: a 31-token vocabulary never exercises
    the estimator, and resemblance-between-corpora (Broder 1997) is
    defined on shingle sets."""
    w = docs.select("source", split_tokens().alias("w")).filter(F.size("w") >= KMV_SHINGLE_N)
    h = (
        f"transform(sequence(0, size(w) - {KMV_SHINGLE_N}), i -> "
        f"cast(conv(substring(md5(concat_ws(' ', "
        f"slice(w, i + 1, {KMV_SHINGLE_N}))), 1, 15), 16, 10) as bigint))"
    )
    return w.select("source", F.explode(F.expr(h)).alias("h")).distinct()


def kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KMV (bottom-k / theta) sketch of the trigram-shingle
    set: (source, rk, h) — the K SMALLEST distinct hash values, ≤ K rows
    per source at ANY corpus size. Completes the sketch suite's algebra:
    CMS answers frequency, HLL answers distinct (union-only), HDR answers
    distribution — KMV answers SET OVERLAP: because the sketch retains
    the sample values themselves (not register maxima), two sketches
    support INTERSECTION and Jaccard estimates (`kmv_source_overlap`),
    which HLL registers fundamentally cannot. The 100 TB use: pairwise
    source/crawl/snapshot resemblance and train-vs-eval contamination
    screening from K-row tables instead of corpus-sized shingle joins.

    Mergeable: union = re-rank of the union of value sets
    (`merge_kmv_sketches`, shard-split-merge pinned). Fully
    deterministic (md5 order statistics), so unlike most sketch
    implementations the table itself is oracle-checked exactly.

    r13-opt: the distinct shingle frame itself is a second seam
    (`kmv_shingle_rows_frame`) because `kmv_source_overlap`'s
    calibration side reads it three more times (set sizes + both
    intersection sides) — previously each consumer re-ran the shingle
    explode + DISTINCT from the scan.

    Plan: shingle fan-out is map-side; ONE (source, h)-keyed distinct
    with map-side partials reduces volume to vocabulary size; the
    bottom-k is a rank-filtered window over the distinct frame — Spark
    rewrites rank ≤ K to WindowGroupLimit, so each map task forwards at
    most K rows per source to the final per-source sort. Compute-once
    seam shared with `kmv_source_overlap`."""
    from ..plans.materialize import materialized_frame

    return materialized_frame(
        spark,
        "kmv_sketch",
        sf_dir,
        lambda: kmv_rank_df(kmv_shingle_rows_frame(spark, sf_dir)),
    )


def kmv_shingle_rows_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compute-once DISTINCT (source, h) shingle-hash frame over
    `documents` — shared by the `kmv_sketch` seam build and
    `kmv_source_overlap`'s true-Jaccard calibration side (see
    `kmv_sketch`'s r13-opt note)."""
    from ..plans.materialize import materialized_frame

    return materialized_frame(
        spark,
        "kmv_shingle_rows",
        sf_dir,
        lambda: _kmv_shingle_rows(
            load_table(spark, sf_dir, "documents").select("source", "text")
        ),
        (KMV_SHINGLE_N,),
    )


def kmv_rank_df(rows: DataFrame) -> DataFrame:
    """Bottom-k rank step over an already-distinct (source, h) frame —
    the one rank every KMV build and merge runs."""
    from pyspark.sql.window import Window as W

    ranked = rows.withColumn(
        "rk",
        F.row_number().over(W.partitionBy("source").orderBy("h")),
    )
    return ranked.filter(F.col("rk") <= KMV_K).select("source", "rk", "h")


def kmv_sketch_df(docs: DataFrame) -> DataFrame:
    """`kmv_sketch` core over any (source, text) frame."""
    return kmv_rank_df(_kmv_shingle_rows(docs))


def merge_kmv_sketches(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a new shard's sketch into a persisted one: the union of two
    bottom-k value sets contains the bottom-k of the union, so the merge
    is distinct-values → re-rank → keep k — sketch(A ∪ B) exactly, per
    source, from ≤ 2k rows a side. Same incremental-maintenance contract
    as the CMS/HLL/HDR merges (each crawl/day sketches its own data;
    corpus-lifetime overlap is maintained without revisiting history);
    shard-split-merge equality pinned in test_scale_smoke.py."""
    u = base.select("source", "h").unionByName(delta.select("source", "h")).distinct()
    return kmv_rank_df(u)


def kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-resemblance report from the KMV sketches: for
    every source pair (a < b), the bottom-k-of-union Jaccard estimate vs
    the TRUE shingle-set Jaccard — (source_a, source_b, k_union, matches,
    est_jaccard, true_jaccard, abs_err). The set-algebra showcase: the
    estimate touches only the two K-row sketches (Broder's estimator —
    of the K smallest union hashes, the fraction present in BOTH sets is
    an unbiased Jaccard estimate with σ ≈ √(J(1−J)/K)); the true side
    exists to calibrate it and is exactly what 100 TB can no longer
    afford. When the union's distinct values fit inside K the sketch IS
    the set and the estimate is exact (pinned in tests).

    Every value in the union bottom-k that belongs to set A is
    necessarily in sketch A (it is ≤ the union's kth smallest, hence ≤
    A's kth smallest), so sketch membership decides `matches` without
    touching data — the property that makes bottom-k sketches closed
    under set operations.

    Plan: sketches come from the compute-once seam; the pair fan-out is
    a broadcast against the O(sources²) pair list; ranking happens on ≤
    2K rows per pair. The true side is one distinct-shingle self-join on
    h, pair-listed via broadcast so zero-overlap pairs surface as 0.0
    rows rather than vanishing (the left-join-zero discipline)."""
    sk = kmv_sketch(spark, sf_dir)
    rows = kmv_shingle_rows_frame(spark, sf_dir)
    from pyspark.sql.window import Window as W

    srcs = sk.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("source_a"))
        .join(srcs.select(F.col("source").alias("source_b")))
        .filter(F.col("source_a") < F.col("source_b"))
    )
    tagged = sk.join(
        F.broadcast(pairs),
        (F.col("source") == F.col("source_a"))
        | (F.col("source") == F.col("source_b")),
    )
    grouped = tagged.groupBy("source_a", "source_b", "h").agg(
        F.max((F.col("source") == F.col("source_a")).cast("int")).alias("in_a"),
        F.max((F.col("source") == F.col("source_b")).cast("int")).alias("in_b"),
    )
    ranked = grouped.withColumn(
        "rk",
        F.row_number().over(W.partitionBy("source_a", "source_b").orderBy("h")),
    ).filter(F.col("rk") <= KMV_K)
    est = ranked.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("k_union"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("matches"),
    )
    est = est.select(
        "source_a",
        "source_b",
        "k_union",
        "matches",
        (F.col("matches") / F.col("k_union")).alias("est_jaccard"),
    )
    sizes = rows.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        rows.select(F.col("source").alias("source_a"), "h")
        .join(rows.select(F.col("source").alias("source_b"), "h"), "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    true = (
        pairs.join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))),
            "source_b",
        )
        .join(inter, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            (
                F.coalesce(F.col("n_inter"), F.lit(0))
                / (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("n_inter"), F.lit(0)))
            ).alias("true_jaccard"),
        )
    )
    return est.join(true, ["source_a", "source_b"]).select(
        "source_a",
        "source_b",
        "k_union",
        "matches",
        F.round("est_jaccard", 6).alias("est_jaccard"),
        F.round("true_jaccard", 6).alias("true_jaccard"),
        F.round(F.abs(F.col("est_jaccard") - F.col("true_jaccard")), 6).alias(
            "abs_err"
        ),
    )


_KMV_ROWS_CTE = f"""
    WITH w AS (
        SELECT source,
               list_filter(string_split(text, ' '), t -> t <> '') AS toks
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT source,
               CAST('0x' || substring(md5(
                   toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
               ), 1, 15) AS BIGINT) AS h
        FROM w, LATERAL (
            SELECT unnest(range(1, len(toks) - {KMV_SHINGLE_N - 2})) AS i
        ) t
        WHERE len(toks) >= {KMV_SHINGLE_N}
    )
"""

ORACLE_SQL["kmv_sketch"] = f"""
    {_KMV_ROWS_CTE},
    ranked AS (
        SELECT source, h,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
        FROM sh
    )
    SELECT source, rk, h FROM ranked WHERE rk <= {KMV_K}
"""

ORACLE_SQL["kmv_source_overlap"] = f"""
    {_KMV_ROWS_CTE},
    srcs AS (SELECT DISTINCT source FROM sh),
    sk AS (
        SELECT source, h FROM (
            SELECT source, h,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
            FROM sh
        ) WHERE rk <= {KMV_K}
    ),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b
        FROM srcs a, srcs b WHERE a.source < b.source
    ),
    tagged AS (
        SELECT p.source_a, p.source_b, s.h,
               MAX(CASE WHEN s.source = p.source_a THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN s.source = p.source_b THEN 1 ELSE 0 END) AS in_b
        FROM pairs p JOIN sk s
          ON s.source = p.source_a OR s.source = p.source_b
        GROUP BY p.source_a, p.source_b, s.h
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY source_a, source_b ORDER BY h) AS rk
        FROM tagged
    ),
    est AS (
        SELECT source_a, source_b,
               COUNT(1) AS k_union,
               CAST(SUM(in_a * in_b) AS BIGINT) AS matches
        FROM ranked WHERE rk <= {KMV_K}
        GROUP BY source_a, source_b
    ),
    sizes AS (SELECT source, COUNT(1) AS n FROM sh GROUP BY source),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(1) AS n_inter
        FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        GROUP BY a.source, b.source
    ),
    tru AS (
        SELECT p.source_a, p.source_b,
               COALESCE(i.n_inter, 0) * 1.0
               / (sa.n + sb.n - COALESCE(i.n_inter, 0)) AS true_jaccard
        FROM pairs p
        JOIN sizes sa ON sa.source = p.source_a
        JOIN sizes sb ON sb.source = p.source_b
        LEFT JOIN inter i
          ON i.source_a = p.source_a AND i.source_b = p.source_b
    )
    SELECT e.source_a, e.source_b, e.k_union, e.matches,
           ROUND(e.matches * 1.0 / e.k_union, 6) AS est_jaccard,
           ROUND(t.true_jaccard, 6) AS true_jaccard,
           ROUND(abs(e.matches * 1.0 / e.k_union - t.true_jaccard), 6)
               AS abs_err
    FROM est e JOIN tru t
      ON e.source_a = t.source_a AND e.source_b = t.source_b
"""


# ---------------------------------------------------------------------------
# Misra-Gries mergeable heavy-hitter summary (deterministic, exact-bounded)
# ---------------------------------------------------------------------------

MG_K = 16  # counters per summary: each shard ships <= K rows
MG_SHARDS = 4  # deterministic shard = doc_id % MG_SHARDS


def _mg_token_counts(docs: DataFrame) -> DataFrame:
    """(shard, token, c) — exact per-shard token counts."""
    toks = docs.select(
        F.pmod(F.col("doc_id"), F.lit(MG_SHARDS)).cast("int").alias("shard"),
        F.explode(F.split("text", " ")).alias("token"),
    ).filter(F.col("token") != "")
    return toks.groupBy("shard", "token").agg(F.count(F.lit(1)).alias("c"))


def _mg_reduce(counts: DataFrame, key: str, val: str) -> DataFrame:
    """The Misra-Gries reduction at k = MG_K: subtract the (k+1)-th
    largest value (deterministic (val DESC, token ASC) order; 0 when
    fewer than k+1 tokens) and keep strictly-positive weights — at most k rows per
    group survive, and every kept weight UNDERSTATES the true value by
    at most the subtracted threshold. Returns the reduced rows plus the
    per-group threshold as `t` (the error ledger the report sums).

    Scale shape: the rank is computed ONLY to find the (k+1)-th value —
    filtering `rk == k+1` immediately after the window lets Spark's
    WindowGroupLimit rewrite keep just k+1 rows per group ahead of the
    sort, so no task ever ranks a full shard's vocabulary. The big side
    then never sees a window at all: it is a broadcast-join against the
    O(groups)-row threshold table plus a filter — at most k rows per
    group survive by the MG property (c > t only above the (k+1)-th
    rank), so the pass over the counts is select-and-drop, not sort."""
    from pyspark.sql.window import Window as W

    rk = F.row_number().over(
        W.partitionBy(key).orderBy(F.desc(val), F.asc("token"))
    )
    thresh = (
        counts.withColumn("rk", rk)
        .filter(F.col("rk") == MG_K + 1)
        .select(key, F.col(val).alias("t"))
    )
    return (
        counts.join(F.broadcast(thresh), key, "left")
        .select(
            key,
            "token",
            (F.col(val) - F.coalesce(F.col("t"), F.lit(0))).alias("wt"),
            F.coalesce(F.col("t"), F.lit(0)).alias("t"),
        )
        .filter(F.col("wt") > 0)
    )


def mg_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Misra-Gries heavy-hitter summary of the corpus's
    token stream: (token, est_count, max_underestimate) — at most MG_K
    rows, each estimate an UNDERSTATEMENT of the true count by at most
    `max_underestimate` = Σ per-shard thresholds + the final-merge
    threshold (the exact error ledger, not a probabilistic bound).

    Completes the frequency story: CMS answers point probes for KNOWN
    tokens (never undercounts), `vocab_topk` finds the exact top-k by
    shuffling the full term-frequency table — Misra-Gries FINDS the
    heavy hitters while shipping only k rows per shard (Agarwal et al.
    2012, "Mergeable Summaries": the summary algebra is closed under
    merge). The 100 TB shape: each crawl/shard reduces its own counts to
    k rows; the merge stage reads shards × k rows — not the vocabulary —
    and a stored summary folds new shards in without re-reading history
    (`merge_mg_summaries`).

    Determinism: shard = doc_id % MG_SHARDS and a (count DESC, token ASC)
    threshold order make every step engine-mirrorable — the summary
    TABLE is oracle-checked, unlike classic streaming MG whose content
    depends on arrival order. The entry uses the flat merge (sum all
    shard summaries, one final reduction), which is merge-order-free;
    pairwise folds are valid too but may keep a different (equally
    bounded) row set, so the error BOUND — not row equality — is the
    pinned merge property.

    Streaming: batch-only by design — classic streaming Misra-Gries
    keeps a summary whose CONTENT depends on arrival order, so the
    exact batch/stream agreement of the other sketches cannot hold. The
    incremental path is per-micro-batch summaries folded through
    `merge_mg_summaries` (bound-valid under the mergeable-summaries
    algebra), which the merge tests pin."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return mg_summary_df(docs)


def mg_summary_df(docs: DataFrame) -> DataFrame:
    """`mg_summary` core over any (doc_id, text) frame."""
    counts = _mg_token_counts(docs)
    shard_sum = _mg_reduce(counts, "shard", "c")
    shard_t = shard_sum.groupBy("shard").agg(F.max("t").alias("t"))
    merged = shard_sum.groupBy("token").agg(F.sum("wt").alias("m"))
    final = _mg_reduce(merged.withColumn("g", F.lit(0)), "g", "m")
    total_t = shard_t.agg(
        F.sum("t").alias("ts")
    )  # one row; the final threshold rides on every `final` row as `t`
    return (
        final.join(F.broadcast(total_t))
        .select(
            "token",
            F.col("wt").alias("est_count"),
            (F.col("ts") + F.col("t")).alias("max_underestimate"),
        )
    )


def merge_mg_summaries(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold one summary into another: pointwise weight sum, then one
    MG reduction. The result is a VALID summary of the union whose
    per-token understatement grows by at most the new threshold —
    the mergeable-summaries guarantee (error adds, size stays ≤ k).
    Unlike the CMS/HLL/KMV/NB merges this is lossy by design, so tests
    pin the BOUND (|est − true| ≤ combined max_underestimate), not row
    equality with a from-scratch build. Inputs carry (token, est_count,
    max_underestimate); the output's bound accumulates both sides' plus
    the reduction's own threshold."""
    # the combined prior bound is the SUM of both inputs' bounds: a token
    # absent from one side may have lost up to that side's entire bound
    # there (fully deducted), so max() would understate the ledger
    pb = (
        base.agg(F.max("max_underestimate").alias("b1"))
        .join(delta.agg(F.max("max_underestimate").alias("b2")))
        .select(
            (F.coalesce(F.col("b1"), F.lit(0)) + F.coalesce(F.col("b2"), F.lit(0)))
            .alias("pb")
        )
    )
    u = (
        base.select("token", "est_count")
        .unionByName(delta.select("token", "est_count"))
        .groupBy("token")
        .agg(F.sum("est_count").alias("m"))
    )
    red = _mg_reduce(u.withColumn("g", F.lit(0)), "g", "m")
    return red.join(F.broadcast(pb)).select(
        "token",
        F.col("wt").alias("est_count"),
        (F.col("pb") + F.col("t")).alias("max_underestimate"),
    )


def mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration report: the summary's estimates against TRUE corpus
    counts — (token, est_count, true_count, underestimate,
    max_underestimate, within_bound). The true side is the full
    term-frequency shuffle the summary exists to avoid; at sf scale it
    verifies the ledger: 0 ≤ underestimate ≤ max_underestimate on every
    row (an int comparison, pinned here AND by the oracle hash).

    r14: the true side folds the `source_token_counts` seam instead of
    a second full text scan — identical counts (same tokenization,
    summed over sources), and the per-invocation cost drops to a
    vocabulary-sized fold of the checkpointed seam."""
    summ = mg_summary(spark, sf_dir)
    true = corpus_token_counts(spark, sf_dir).select(
        "token", F.col("n").alias("true_count")
    )
    return summ.join(true, "token").select(
        "token",
        "est_count",
        "true_count",
        (F.col("true_count") - F.col("est_count")).alias("underestimate"),
        "max_underestimate",
        (
            (F.col("true_count") - F.col("est_count"))
            <= F.col("max_underestimate")
        ).cast("int").alias("within_bound"),
    )


_MG_CTE = f"""
    WITH toks AS (
        SELECT doc_id % {MG_SHARDS} AS shard, tok AS token
        FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
            FROM documents
        )
    ),
    counts AS (
        SELECT shard, token, COUNT(1) AS c FROM toks GROUP BY 1, 2
    ),
    ranked AS (
        SELECT shard, token, c,
               ROW_NUMBER() OVER (
                   PARTITION BY shard ORDER BY c DESC, token ASC) AS rk
        FROM counts
    ),
    thresh AS (
        SELECT shard, c AS t FROM ranked WHERE rk = {MG_K + 1}
    ),
    shard_sum AS (
        SELECT r.shard, r.token,
               r.c - COALESCE(th.t, 0) AS wt,
               COALESCE(th.t, 0) AS t
        FROM ranked r LEFT JOIN thresh th ON th.shard = r.shard
        WHERE r.c - COALESCE(th.t, 0) > 0
    ),
    shard_t AS (SELECT shard, MAX(t) AS t FROM shard_sum GROUP BY 1),
    merged AS (
        SELECT token, CAST(SUM(wt) AS BIGINT) AS m FROM shard_sum GROUP BY 1
    ),
    mranked AS (
        SELECT token, m,
               ROW_NUMBER() OVER (ORDER BY m DESC, token ASC) AS rk
        FROM merged
    ),
    mthresh AS (SELECT m AS t FROM mranked WHERE rk = {MG_K + 1}),
    final AS (
        SELECT r.token,
               r.m - COALESCE((SELECT t FROM mthresh), 0) AS wt,
               COALESCE((SELECT t FROM mthresh), 0) AS t
        FROM mranked r
        WHERE r.m - COALESCE((SELECT t FROM mthresh), 0) > 0
    ),
    summary AS (
        SELECT f.token, CAST(f.wt AS BIGINT) AS est_count,
               CAST((SELECT COALESCE(SUM(t), 0) FROM shard_t) + f.t
                    AS BIGINT) AS max_underestimate
        FROM final f
    )
"""

ORACLE_SQL["mg_summary"] = (
    _MG_CTE
    + """
    SELECT token, est_count, max_underestimate FROM summary
"""
)

ORACLE_SQL["mg_heavy_hitters"] = (
    _MG_CTE
    + """,
    tru AS (
        SELECT token, COUNT(1) AS true_count
        FROM (
            SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                AS token
            FROM documents
        )
        GROUP BY 1
    )
    SELECT s.token, s.est_count, t.true_count,
           t.true_count - s.est_count AS underestimate,
           s.max_underestimate,
           CAST(CASE WHEN t.true_count - s.est_count <= s.max_underestimate
                THEN 1 ELSE 0 END AS INT) AS within_bound
    FROM summary s JOIN tru t ON t.token = s.token
"""
)
