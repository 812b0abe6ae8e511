"""A/B experiment analysis: per-event-type variant comparison from
exact integer moments.

The experimentation-platform staple next to the monitoring family:
CUSUM/PSI ask "did this metric drift over time?"; an A/B report asks
"do these two concurrently-running variants differ?". Variant
assignment here is the deterministic synthetic rule
``user_id % 2`` (0 = control A, 1 = treatment B) — in production the
assignment arrives as an event column and the rule is one expression
swap; the REPORT's arithmetic is the part that must be exact and
engine-stable, and is.

Exactness discipline (DECISIONS #12/#16): values micro-quantize to
integers; per-variant counts and micro-sums are exact bigints;
``mean_*_micro = sum div n`` is the engines' shared truncating
integer division; squared micro-sums accumulate as DECIMAL(38,0) /
HUGEINT (a single squared micro-value can reach 1e18 — int64 would
overflow on the SECOND row) and are emitted as their exact DECIMAL
STRING so the comparison never rides the HUGEINT→float64 Arrow
conversion. Only the decision statistic ``welch_t`` — Welch's
unequal-variance t on the micro scale, t = (mean_a − mean_b) /
sqrt(s²_a/n_a + s²_b/n_b) — is a double, rounded 4 (non-ranked, the
float policy); it is NULL when either variant has <2 observations
(sample variance undefined), rather than an ANSI divide error.
NULL values are excluded from both moments (absence is legal, as in
`events_value_nonnegative`).

Scale shape: ONE scan of events, one conditional aggregate per
event_type (both variants' moments from the same pass — no self-join,
no pivot shuffle), output O(event types). The cheapest exact form any
engine can offer; at 100 TB this is a single map-side-combined
aggregation.

Streaming: the moment table (n, Σv, Σv²) per (type, variant) is a
textbook grouped streaming aggregation; the t-statistic is the batch
snapshot read. `ab_moments_df` applied to a streaming frame IS that
aggregation; snapshot →
`ab_report_df`'s final projection pinned in
tests/test_streaming_abtest.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table

_DEC = "decimal(38,0)"


def ab_moments_df(events: DataFrame) -> DataFrame:
    """(event_type, variant, n, sum_u, sum_sq) exact moments; variant =
    user_id % 2; NULL values excluded."""
    vu = F.round(F.col("value").cast("double") * 1_000_000).cast("long")
    return (
        events.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            (F.col("user_id") % 2).cast("int").alias("variant"),
            vu.alias("vu"),
        )
        .groupBy("event_type", "variant")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("vu").alias("sum_u"),
            F.sum(F.col("vu").cast(_DEC) * F.col("vu").cast(_DEC)).alias(
                "sum_sq"
            ),
        )
    )


def ab_report_df(moments: DataFrame) -> DataFrame:
    """Fold the two variants' moments into one report row per type."""
    m = moments.groupBy("event_type").agg(
        F.sum(F.when(F.col("variant") == 0, F.col("n")).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, F.col("n")).otherwise(0)).alias("n_b"),
        F.sum(
            F.when(F.col("variant") == 0, F.col("sum_u")).otherwise(0)
        ).alias("sum_a"),
        F.sum(
            F.when(F.col("variant") == 1, F.col("sum_u")).otherwise(0)
        ).alias("sum_b"),
        F.sum(
            F.when(F.col("variant") == 0, F.col("sum_sq")).otherwise(
                F.lit(0).cast(_DEC)
            )
        ).alias("ssq_a"),
        F.sum(
            F.when(F.col("variant") == 1, F.col("sum_sq")).otherwise(
                F.lit(0).cast(_DEC)
            )
        ).alias("ssq_b"),
    )
    mean_a = F.expr("CASE WHEN n_a > 0 THEN sum_a div n_a END")
    mean_b = F.expr("CASE WHEN n_b > 0 THEN sum_b div n_b END")
    # sample variances on the micro scale, in doubles from exact moments
    var_a = F.expr(
        "CASE WHEN n_a > 1 THEN "
        "(cast(ssq_a as double) - cast(sum_a as double) * cast(sum_a as double) / n_a)"
        " / (n_a - 1) END"
    )
    var_b = F.expr(
        "CASE WHEN n_b > 1 THEN "
        "(cast(ssq_b as double) - cast(sum_b as double) * cast(sum_b as double) / n_b)"
        " / (n_b - 1) END"
    )
    welch = F.round(
        (
            F.col("sum_a").cast("double") / F.col("n_a")
            - F.col("sum_b").cast("double") / F.col("n_b")
        )
        / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b")),
        4,
    )
    return m.select(
        "event_type",
        "n_a",
        "n_b",
        mean_a.alias("mean_a_micro"),
        mean_b.alias("mean_b_micro"),
        (mean_a - mean_b).alias("diff_micro"),
        F.col("ssq_a").cast("string").alias("sum_sq_a"),
        F.col("ssq_b").cast("string").alias("sum_sq_b"),
        F.when((F.col("n_a") > 1) & (F.col("n_b") > 1), welch).alias(
            "welch_t"
        ),
    )


def ab_variant_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type A/B comparison (module docstring): (event_type, n_a,
    n_b, mean_a_micro, mean_b_micro, diff_micro, sum_sq_a, sum_sq_b,
    welch_t)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "value"
    )
    return ab_report_df(ab_moments_df(ev))


ORACLE_SQL: dict[str, str] = {
    "ab_variant_report": """
    WITH mo AS MATERIALIZED (
        SELECT event_type,
               CAST(user_id % 2 AS INT) AS variant,
               COUNT(1) AS n,
               SUM(CAST(ROUND(CAST(value AS DOUBLE) * 1000000) AS BIGINT))
                   AS sum_u,
               SUM(CAST(ROUND(CAST(value AS DOUBLE) * 1000000) AS BIGINT)
                   * CAST(ROUND(CAST(value AS DOUBLE) * 1000000) AS BIGINT))
                   AS sum_sq
        FROM events
        WHERE value IS NOT NULL
        GROUP BY 1, 2
    ),
    folded AS MATERIALIZED (
        SELECT event_type,
               CAST(SUM(CASE WHEN variant = 0 THEN n ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(SUM(CASE WHEN variant = 1 THEN n ELSE 0 END) AS BIGINT)
                   AS n_b,
               CAST(SUM(CASE WHEN variant = 0 THEN sum_u ELSE 0 END)
                    AS BIGINT) AS sum_a,
               CAST(SUM(CASE WHEN variant = 1 THEN sum_u ELSE 0 END)
                    AS BIGINT) AS sum_b,
               SUM(CASE WHEN variant = 0 THEN sum_sq ELSE 0 END) AS ssq_a,
               SUM(CASE WHEN variant = 1 THEN sum_sq ELSE 0 END) AS ssq_b
        FROM mo GROUP BY event_type
    )
    SELECT event_type, n_a, n_b,
           CAST(CASE WHEN n_a > 0 THEN sum_a // n_a END AS BIGINT)
               AS mean_a_micro,
           CAST(CASE WHEN n_b > 0 THEN sum_b // n_b END AS BIGINT)
               AS mean_b_micro,
           CAST(CASE WHEN n_a > 0 AND n_b > 0
                     THEN (sum_a // n_a) - (sum_b // n_b) END AS BIGINT)
               AS diff_micro,
           CAST(ssq_a AS VARCHAR) AS sum_sq_a,
           CAST(ssq_b AS VARCHAR) AS sum_sq_b,
           CASE WHEN n_a > 1 AND n_b > 1 THEN ROUND(
               (CAST(sum_a AS DOUBLE) / n_a - CAST(sum_b AS DOUBLE) / n_b)
               / sqrt(
                   ((CAST(ssq_a AS DOUBLE)
                     - CAST(sum_a AS DOUBLE) * CAST(sum_a AS DOUBLE) / n_a)
                    / (n_a - 1)) / n_a
                   + ((CAST(ssq_b AS DOUBLE)
                       - CAST(sum_b AS DOUBLE) * CAST(sum_b AS DOUBLE) / n_b)
                      / (n_b - 1)) / n_b
               ), 4) END AS welch_t
    FROM folded
""",
}
