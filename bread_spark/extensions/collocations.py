"""PMI collocation mining — statistically-associated adjacent word
pairs, ranked by an exact-integer association score.

Corpus collocations ("new york", "machine learning") are the classic
association-mining surface over the same unigram/bigram count tables
the n-gram LM family already maintains — so this module CONSUMES the
shared LM count seam (`curation.lm_counts` at orders 1 and 2,
materialize.py contract) rather than recounting: in the bench cold
pass whoever touches the counts first pays once for the LM scorers,
the perplexity buckets, and the collocation miner together.

Scoring. True PMI is log( p(w1,w2) / (p(w1)·p(w2)) ); log is
monotone, so RANKING by PMI equals ranking by the lift ratio
N·c12/(c1·c2) — and the lift can be computed in exact integers where
the log cannot. The score contract is the two-step floor division

    pmi_lift_micro = (((c12 * 1_000_000) div c1) * N) div c2

with `div`/`//` the integer division BOTH engines define as
truncation toward zero (all operands here are positive counts, so
truncation = floor). The composed floors are part of the CONTRACT —
Spark and DuckDB execute the identical expression, so the scores are
bit-identical and the (score, w1, w2) ordering is a total order with
no float-tie wobble anywhere (CLAUDE.md's ranked-must-be-integer
rule). Bounds under ANSI: (c12·1e6) div c1 ≤ 1e6 since c12 ≤ c1, so
the widest intermediate is 1e6·N — safe below 2^62 for any corpus
under ~4.6e12 tokens; a larger snapshot drops the micro constant to
1e4 (one documented constant, not a redesign).

`pmi_collocations` — global top-100 pairs with pair count ≥ MIN_PAIR,
ordered by (pmi_lift_micro, w1, w2) DESC. Scale shape: the two count
seams join keyed on w1 then w2 (vocabulary-sized sides — keyed
shuffles, never broadcast), the corpus-total row broadcasts, and the
top-k is a distributed TakeOrderedAndProject — no global sort
materializes.

`top_collocations_by_source` — per-source top-5 by the same score
from per-source counts (quota/mix decisions read per-source
association structure, e.g. boilerplate phrases that dominate one
crawl). One extra grouping column through the same pipeline; the
rank is a window partitioned BY source, so each source ranks locally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from .curation import BIGRAM_PAIRS_EXPR

MIN_PAIR = 3
TOP_K = 100
PER_SOURCE_K = 5
MIN_PAIR_SOURCE = 2

_SCORE = "(((n_pair * 1000000) div n_w1) * n_total) div n_w2"


def pmi_collocations_df(uni: DataFrame, big: DataFrame) -> DataFrame:
    """Score + rank off prebuilt (token, n) / (w1, w2, n12) tables."""
    total = uni.agg(F.sum("n").alias("n_total"))
    u1 = uni.select(F.col("token").alias("w1"), F.col("n").alias("n_w1"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("n").alias("n_w2"))
    return (
        big.filter(F.col("n12") >= MIN_PAIR)
        .select("w1", "w2", F.col("n12").alias("n_pair"))
        .join(u1, "w1")
        .join(u2, "w2")
        .join(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_w1",
            "n_w2",
            F.expr(_SCORE).alias("pmi_lift_micro"),
        )
        .orderBy(
            F.desc("pmi_lift_micro"), F.desc("w1"), F.desc("w2")
        )
        .limit(TOP_K)
    )


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100 collocations (module docstring): (w1, w2, n_pair,
    n_w1, n_w2, pmi_lift_micro)."""
    from .curation import lm_counts

    return pmi_collocations_df(
        lm_counts(spark, sf_dir, 1).withColumnRenamed("w1", "token"),
        lm_counts(spark, sf_dir, 2).withColumnRenamed("n", "n12"),
    )


def top_collocations_by_source_df(
    docs: DataFrame, uni: DataFrame | None = None
) -> DataFrame:
    """Per-source collocation miner over any (source, text) frame.

    `uni` accepts a prebuilt (source, token, n) count table — the
    catalog entry passes the shared `source_token_counts` seam (r14),
    which drops one of the two full text scans this build paid per
    invocation (the unigram explode+aggregate; the bigram pair stream
    is the one pass over text that remains — pairs cannot fold from
    unigram counts)."""
    toks_arr = F.filter(F.split("text", " "), lambda t: t != "")
    w = docs.select("source", toks_arr.alias("toks")).filter(
        F.size("toks") >= 1
    )
    if uni is None:
        toks = w.select("source", F.explode("toks").alias("token"))
        uni = toks.groupBy("source", "token").agg(
            F.count(F.lit(1)).alias("n")
        )
    pairs = w.select(
        "source",
        F.explode(
            F.expr(
                BIGRAM_PAIRS_EXPR
            )
        ).alias("p"),
    ).select("source", "p.w1", "p.w2")
    big = pairs.groupBy("source", "w1", "w2").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    total = uni.groupBy("source").agg(F.sum("n").alias("n_total"))
    u1 = uni.select(
        "source", F.col("token").alias("w1"), F.col("n").alias("n_w1")
    )
    u2 = uni.select(
        "source", F.col("token").alias("w2"), F.col("n").alias("n_w2")
    )
    from pyspark.sql.window import Window

    scored = (
        big.filter(F.col("n_pair") >= MIN_PAIR_SOURCE)
        .join(u1, ["source", "w1"])
        .join(u2, ["source", "w2"])
        .join(total, "source")
        .select(
            "source",
            "w1",
            "w2",
            "n_pair",
            F.expr(_SCORE).alias("pmi_lift_micro"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.desc("pmi_lift_micro"), F.desc("w1"), F.desc("w2")
        )
    )
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= PER_SOURCE_K)
        .select("source", "rk", "w1", "w2", "n_pair", "pmi_lift_micro")
    )


def top_collocations_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-5 collocations (module docstring): (source, rk,
    w1, w2, n_pair, pmi_lift_micro). The unigram side rides the shared
    `source_token_counts` seam (identical counts, one tokenization pass
    per catalog pass — see `top_collocations_by_source_df`)."""
    from .sketch import source_token_counts_frame

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    uni = source_token_counts_frame(spark, sf_dir).select(
        "source", "token", F.col("n_st").alias("n")
    )
    return top_collocations_by_source_df(docs, uni)


_COUNTS_CTE = """
    WITH w AS MATERIALIZED (
        SELECT doc_id, source,
               list_filter(string_split(text, ' '), t -> t <> '') AS toks
        FROM documents
    ),
    w1 AS MATERIALIZED (SELECT * FROM w WHERE len(toks) >= 1),
    toks AS MATERIALIZED (
        SELECT doc_id, source, unnest(toks) AS token FROM w1
    ),
    pairs AS MATERIALIZED (
        SELECT doc_id, source, toks[CAST(i AS BIGINT)] AS w1,
               toks[CAST(i AS BIGINT) + 1] AS w2
        FROM w1, LATERAL (SELECT unnest(range(1, len(toks))) AS i) t
    )
"""

ORACLE_SQL: dict[str, str] = {
    "pmi_collocations": _COUNTS_CTE
    + f"""
    , uni AS MATERIALIZED (
        SELECT token, COUNT(1) AS n FROM toks GROUP BY token
    ),
    big AS MATERIALIZED (
        SELECT w1, w2, COUNT(1) AS n12 FROM pairs GROUP BY w1, w2
    ),
    tot AS MATERIALIZED (SELECT SUM(n) AS n_total FROM uni)
    SELECT b.w1, b.w2, b.n12 AS n_pair,
           u1.n AS n_w1, u2.n AS n_w2,
           CAST((((b.n12 * 1000000) // u1.n) * t.n_total) // u2.n
                AS BIGINT) AS pmi_lift_micro
    FROM big b
    JOIN uni u1 ON b.w1 = u1.token
    JOIN uni u2 ON b.w2 = u2.token
    CROSS JOIN tot t
    WHERE b.n12 >= {MIN_PAIR}
    ORDER BY pmi_lift_micro DESC, w1 DESC, w2 DESC
    LIMIT {TOP_K}
""",
    "top_collocations_by_source": _COUNTS_CTE
    + f"""
    , uni AS MATERIALIZED (
        SELECT source, token, COUNT(1) AS n FROM toks GROUP BY source, token
    ),
    big AS MATERIALIZED (
        SELECT source, w1, w2, COUNT(1) AS n_pair
        FROM pairs GROUP BY source, w1, w2
    ),
    tot AS MATERIALIZED (
        SELECT source, SUM(n) AS n_total FROM uni GROUP BY source
    ),
    scored AS MATERIALIZED (
        SELECT b.source, b.w1, b.w2, b.n_pair,
               CAST((((b.n_pair * 1000000) // u1.n) * t.n_total) // u2.n
                    AS BIGINT) AS pmi_lift_micro,
               ROW_NUMBER() OVER (
                   PARTITION BY b.source
                   ORDER BY (((b.n_pair * 1000000) // u1.n) * t.n_total)
                            // u2.n DESC, b.w1 DESC, b.w2 DESC
               ) AS rk
        FROM big b
        JOIN uni u1 ON b.source = u1.source AND b.w1 = u1.token
        JOIN uni u2 ON b.source = u2.source AND b.w2 = u2.token
        JOIN tot t ON b.source = t.source
        WHERE b.n_pair >= {MIN_PAIR_SOURCE}
    )
    SELECT source, rk, w1, w2, n_pair, pmi_lift_micro
    FROM scored WHERE rk <= {PER_SOURCE_K}
""",
}
