"""Behavioral timing analytics: conversion latency and inter-event
cadence — the product-analytics staples next to the funnel/retention
family, in the repo's exactness discipline.

- `time_to_conversion` — one-row report over per-user FIRST signup →
  FIRST purchase latency. The per-user firsts come from ONE
  conditional min-aggregate pass (the `ab_moments_df` shape — no
  self-join, no pivot); a user counts as converted when both firsts
  exist and the purchase is not before the signup. Delay is exact
  integer seconds ((p_us − s_us) div 1e6 on non-negative operands, so
  floor and truncation coincide); conversion_ppm and mean_delay_s are
  exact truncating-division integers; only the p50/p90 latencies ride
  the certified percentile ↔ quantile_cont parity (rounded 6).
- `inter_event_gap_stats` — per-type cadence of a user's consecutive
  same-type events: gap = LAG over (user_id, event_type) ordered by
  (ts, event_id) — the deterministic tie-break `daily_twap_by_type`
  certified — in exact integer seconds; n/mean exact, p50/p90 via the
  percentile parity. An abnormal cadence shift is the behavioral
  sibling of the CUSUM level shift.

Scale shape: `time_to_conversion` is one filtered map-side-combined
aggregation to O(users) rows, then one global aggregate of that.
`inter_event_gap_stats` is ONE user×type-keyed window exchange, then
one aggregate to O(types) rows. No joins anywhere in either plan.

Streaming: the per-user firsts table is a grouped MIN aggregation —
`conversion_firsts_df` applied to a streaming frame (the `ab_moments_df`
discipline); a snapshot through the batch report
fold IS the online conversion monitor, pinned in
tests/test_streaming_behavior.py. `inter_event_gap_stats` is
batch-only: LAG needs each (user, type)'s ordered history (unbounded
per-key state in a stream).

Reference parity: the reference has no behavioral-latency analytics;
additive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load_table

SIGNUP = "signup"
PURCHASE = "purchase"


def conversion_firsts_df(ev: DataFrame) -> DataFrame:
    """(user_id, s_us, p_us) — each user's first signup / first
    purchase epoch-micros from one conditional aggregate."""
    return (
        ev.filter(F.col("event_type").isin(SIGNUP, PURCHASE))
        .select("user_id", "event_type", F.unix_micros("ts").alias("us"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == SIGNUP, F.col("us"))).alias(
                "s_us"
            ),
            F.min(
                F.when(F.col("event_type") == PURCHASE, F.col("us"))
            ).alias("p_us"),
        )
    )


def conversion_report_df(firsts: DataFrame) -> DataFrame:
    """Fold the per-user firsts into the one-row latency report."""
    delay = F.when(
        F.col("s_us").isNotNull()
        & F.col("p_us").isNotNull()
        & (F.col("p_us") >= F.col("s_us")),
        F.expr("(p_us - s_us) div 1000000"),
    )
    d = firsts.select("s_us", "p_us", delay.alias("delay_s"))
    return d.agg(
        F.count("s_us").alias("n_signup_users"),
        F.count("p_us").alias("n_purchase_users"),
        F.count("delay_s").alias("n_converted"),
        F.expr(
            "CASE WHEN count(s_us) > 0 THEN "
            "CAST((CAST(count(delay_s) AS DECIMAL(38,0)) * 1000000)"
            " div count(s_us) AS BIGINT) END"
        ).alias("conversion_ppm"),
        F.expr(
            "CASE WHEN count(delay_s) > 0 THEN "
            "sum(delay_s) div count(delay_s) END"
        ).alias("mean_delay_s"),
        F.round(F.expr("percentile(delay_s, 0.5)"), 6).alias("p50_delay_s"),
        F.round(F.expr("percentile(delay_s, 0.9)"), 6).alias("p90_delay_s"),
    )


def time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-signup → first-purchase latency report (module
    docstring): (n_signup_users, n_purchase_users, n_converted,
    conversion_ppm, mean_delay_s, p50_delay_s, p90_delay_s)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    return conversion_report_df(conversion_firsts_df(ev))


def gap_stats_df(ev: DataFrame) -> DataFrame:
    """(event_type, n_gaps, mean_gap_s, p50_gap_s, p90_gap_s) — exact
    integer-second gaps between a user's consecutive same-type
    events."""
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gap = F.expr("(us - prev_us) div 1000000")
    g = (
        ev.select("user_id", "event_type", "event_id", "ts", us.alias("us"))
        .select(
            "event_type",
            "us",
            F.lag("us").over(w).alias("prev_us"),
        )
        .select("event_type", gap.alias("gap_s"))
        .filter(F.col("gap_s").isNotNull())
    )
    return g.groupBy("event_type").agg(
        F.count("gap_s").alias("n_gaps"),
        F.expr("sum(gap_s) div count(gap_s)").alias("mean_gap_s"),
        F.round(F.expr("percentile(gap_s, 0.5)"), 6).alias("p50_gap_s"),
        F.round(F.expr("percentile(gap_s, 0.9)"), 6).alias("p90_gap_s"),
    )


def inter_event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-event cadence report (module docstring)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts"
    )
    return gap_stats_df(ev)


ORACLE_SQL: dict[str, str] = {
    "time_to_conversion": """
    WITH f AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup'
                        THEN epoch_us(ts) END) AS s_us,
               MIN(CASE WHEN event_type = 'purchase'
                        THEN epoch_us(ts) END) AS p_us
        FROM events
        WHERE event_type IN ('signup', 'purchase')
        GROUP BY user_id
    ),
    c AS (
        SELECT s_us, p_us,
               CASE WHEN s_us IS NOT NULL AND p_us IS NOT NULL
                         AND p_us >= s_us
                    THEN (p_us - s_us) // 1000000 END AS delay_s
        FROM f
    )
    SELECT COUNT(s_us) AS n_signup_users,
           COUNT(p_us) AS n_purchase_users,
           COUNT(delay_s) AS n_converted,
           CASE WHEN COUNT(s_us) > 0 THEN
               CAST((CAST(COUNT(delay_s) AS HUGEINT) * 1000000)
                    // COUNT(s_us) AS BIGINT) END AS conversion_ppm,
           CASE WHEN COUNT(delay_s) > 0 THEN
               CAST(SUM(delay_s) // COUNT(delay_s) AS BIGINT)
           END AS mean_delay_s,
           ROUND(quantile_cont(delay_s, 0.5), 6) AS p50_delay_s,
           ROUND(quantile_cont(delay_s, 0.9), 6) AS p90_delay_s
    FROM c
""",
    "inter_event_gap_stats": """
    WITH g AS (
        SELECT event_type,
               (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts, event_id)) // 1000000 AS gap_s
        FROM events
    )
    SELECT event_type,
           COUNT(gap_s) AS n_gaps,
           CAST(SUM(gap_s) // COUNT(gap_s) AS BIGINT) AS mean_gap_s,
           ROUND(quantile_cont(gap_s, 0.5), 6) AS p50_gap_s,
           ROUND(quantile_cont(gap_s, 0.9), 6) AS p90_gap_s
    FROM g
    WHERE gap_s IS NOT NULL
    GROUP BY event_type
""",
}
