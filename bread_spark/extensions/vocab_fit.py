"""Tokenizer-fit diagnostics: OOV rates against a frozen vocabulary
and the doc-length distribution in doubling buckets.

Two questions every tokenizer/vocab decision needs answered per
source before a training run, complementing `token_stats` (per-doc
counts) and `corpus_stats_by_source` (per-source totals/means):

`oov_rate_by_source` — how much of each source's token mass falls
OUTSIDE the top-`VOCAB_SIZE` corpus vocabulary? A source whose OOV
rate is an outlier either needs vocab budget or is noise. The
vocabulary is the top-1024 tokens by (count, token) DESC — count from
the SHARED LM order-1 count seam (`lm_counts`, no recount), the
lexicographic tie-break making the cut deterministic in both engines.
The rate is the exact integer micro-ratio (n_oov · 1e6) div n_tokens
— no float anywhere. Scale shape: the vocab is ≤1024 rows BY
CONSTRUCTION → broadcast into the token stream's LEFT join (the one
broadcast this module does is the bounded one), then one
groupBy(source); the token stream is never shuffled on token.

`doc_length_histogram` — per-source doc counts and token mass in
DOUBLING length buckets: bucket = length(bin(n_tokens)), i.e.
floor(log2)+1 computed via the binary-string length both engines
produce identically (no float log, no boundary ulp risk; n_tokens=0
lands in bucket 1 alongside [1,2), documented — `bin(0)` is "0" in
both engines). Doubling buckets resolve the 2^5..2^12-token band real
corpora occupy, where the decimal-digit bucketing the repo uses for
skew reports would collapse everything into two rows. `bucket_lo` =
1 << (bucket-1) is display metadata (exact shiftleft, no pow). Pure
map-side bucket assignment + one (source, bucket) aggregate — output
is O(sources × ~40 buckets) at any input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table

VOCAB_SIZE = 1024


def oov_rate_df(
    docs: DataFrame, uni: DataFrame, vocab_size: int = VOCAB_SIZE
) -> DataFrame:
    """Per-source OOV mass against the top-`vocab_size` vocab drawn
    from the (token, n) table `uni`."""
    vocab = (
        uni.orderBy(F.desc("n"), F.desc("token"))
        .limit(vocab_size)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    toks = docs.select(
        "source",
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != "")
        ).alias("token"),
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.expr("(n_oov * 1000000) div n_tokens").alias("oov_micro"),
        )
    )


def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOV report (module docstring): (source, n_tokens, n_oov,
    oov_micro)."""
    from .curation import lm_counts

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    uni = lm_counts(spark, sf_dir, 1).withColumnRenamed("w1", "token")
    return oov_rate_df(docs, uni)


def doc_length_histogram_df(docs: DataFrame) -> DataFrame:
    n_tokens = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    bucket = F.length(F.bin(n_tokens.cast("long"))).cast("long")
    return (
        docs.select("source", n_tokens.cast("long").alias("nt"), bucket.alias("bucket"))
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("token_mass"),
        )
        .select(
            "source",
            "bucket",
            F.expr(
                "shiftleft(cast(1 as bigint), cast(bucket - 1 as int))"
            ).alias("bucket_lo"),
            "n_docs",
            "token_mass",
        )
    )


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubling-bucket length histogram (module docstring): (source,
    bucket, bucket_lo, n_docs, token_mass)."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    return doc_length_histogram_df(docs)


ORACLE_SQL: dict[str, str] = {
    "oov_rate_by_source": f"""
    WITH toks0 AS MATERIALIZED (
        SELECT source,
               unnest(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS token
        FROM documents
    ),
    uni AS MATERIALIZED (
        SELECT token, COUNT(1) AS n FROM (
            SELECT unnest(list_filter(string_split(text, ' '), t -> t <> ''))
                       AS token
            FROM documents
        ) GROUP BY token
    ),
    vocab AS MATERIALIZED (
        SELECT token, 1 AS in_vocab FROM uni
        ORDER BY n DESC, token DESC LIMIT {VOCAB_SIZE}
    )
    SELECT t.source,
           CAST(COUNT(1) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           CAST((SUM(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END)
                 * 1000000) // COUNT(1) AS BIGINT) AS oov_micro
    FROM toks0 t LEFT JOIN vocab v USING (token)
    GROUP BY t.source
""",
    "doc_length_histogram": """
    WITH lens AS MATERIALIZED (
        SELECT source,
               len(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS nt
        FROM documents
    )
    SELECT source,
           CAST(LENGTH(bin(nt)) AS BIGINT) AS bucket,
           CAST(CAST(1 AS BIGINT)
                << (CAST(LENGTH(bin(nt)) AS INTEGER) - 1) AS BIGINT)
               AS bucket_lo,
           CAST(COUNT(1) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS token_mass
    FROM lens
    GROUP BY source, LENGTH(bin(nt))
""",
}
