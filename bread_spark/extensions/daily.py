"""Daily operations rollups: percentile bands, composition shares,
and new-vs-returning users — the three tables an on-call dashboard
refreshes every morning, in the repo's exactness discipline.

- `daily_value_percentiles` — per (event_type, day): n, p50/p90 of the
  MICRO-QUANTIZED values. The percentile interpolates over exact
  integers, so both engines feed identical operands into the identical
  a + frac·(b−a) formula and the rounded-4 output cannot tie-flip —
  the `value_mad_outliers` sf0.1 lesson (PERF_NOTES r9): interpolating
  raw doubles leaves a cross-engine ulp gap that round() can amplify
  at a .00005 boundary; interpolating integers cannot.
- `type_share_by_day` — per (day, event_type): count and the exact
  share_ppm = (cnt·1e6) div day_total (truncating division on
  non-negative operands — identical in both engines). The stacked-area
  composition table; a mix shift here is the leading indicator for
  every per-type monitor downstream.
- `new_vs_returning_users` — per day: distinct actives, first-ever-day
  users (new), returning = active − new, and the exact new_ppm. The
  growth-accounting table; Σ n_new over all days ≡ total distinct
  users (pinned).

Scale shape: percentiles and shares aggregate straight to O(days×types)
rows (one map-side-combined pass each; the share window runs on the
AGGREGATE); new-vs-returning reduces to distinct (day, user) pairs,
derives each user's first day with ONE user-keyed aggregate, joins the
two O(users)-scale tables user-keyed, and aggregates to O(days). No
broadcast of anything unbounded, no window over raw events.

Streaming: the (day, type) count table is the daily micro-sum shape
(counts instead of sums) — `daily_type_counts_df` applied to a
streaming frame, snapshot → the batch share projection, pinned in
tests/test_streaming_stats.py. Percentile bands are
batch-only (corpus order statistics). New-vs-returning is batch-only as a table — the
per-user first-day state is exactly `conversion_firsts_df`'s
grouped-MIN shape, but the DAILY attribution needs the corpus day
grid closed, i.e. a snapshot fold (stated, not NULLed).

Reference parity: the reference has no daily-operations rollups;
additive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load_table


def daily_percentiles_df(ev: DataFrame) -> DataFrame:
    """(event_type, day, n, p50_micro, p90_micro) over micro ints."""
    vu = F.round(F.col("value").cast("double") * 1_000_000).cast("long")
    return (
        ev.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            vu.alias("vu"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(vu, 0.5)"), 4).alias("p50_micro"),
            F.round(F.expr("percentile(vu, 0.9)"), 4).alias("p90_micro"),
        )
    )


def daily_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-type percentile bands (module docstring)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    return daily_percentiles_df(ev)


def daily_type_counts_df(ev: DataFrame) -> DataFrame:
    """(day, event_type, cnt) — the composition table's sufficient
    statistic (and the streaming fold)."""
    return (
        ev.select(F.col("ts").cast("date").alias("day"), "event_type")
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def type_share_df(counts: DataFrame) -> DataFrame:
    """Project the count table to exact ppm shares."""
    total = F.sum("cnt").over(Window.partitionBy("day"))
    return counts.select(
        "day",
        "event_type",
        "cnt",
        total.alias("day_total"),
    ).select(
        "day",
        "event_type",
        "cnt",
        "day_total",
        F.expr("(cnt * 1000000) div day_total").alias("share_ppm"),
    )


def type_share_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-type composition shares (module docstring):
    (day, event_type, cnt, day_total, share_ppm)."""
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    return type_share_df(daily_type_counts_df(ev))


def new_vs_returning_df(ev: DataFrame) -> DataFrame:
    """(day, n_active, n_new, n_returning, new_ppm) — first-ever-day
    growth accounting (module docstring)."""
    du = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    firsts = du.groupBy("user_id").agg(F.min("day").alias("first_day"))
    tagged = du.join(firsts, "user_id").select(
        "day",
        F.when(F.col("day") == F.col("first_day"), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    return tagged.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum("is_new").alias("n_new"),
        (F.count(F.lit(1)) - F.sum("is_new")).alias("n_returning"),
        F.expr(
            "CAST((CAST(sum(is_new) AS DECIMAL(38,0)) * 1000000)"
            " div count(1) AS BIGINT)"
        ).alias("new_ppm"),
    )


def new_vs_returning_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning user accounting (module docstring)."""
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    return new_vs_returning_df(ev)


def activity_heatmap_df(ev: DataFrame) -> DataFrame:
    """(dow, hour, n, share_ppm) — the hour-of-week activity heatmap.
    dow uses the certified seasonal mapping (Spark dayofweek−1 ↔
    DuckDB dayofweek, 0 = Sunday); shares are exact ppm of the whole
    corpus. ONE map-side-combined aggregate to ≤168 rows; the share
    window runs on that aggregate."""
    cells = (
        ev.select(
            (F.dayofweek(F.col("ts").cast("date")) - 1).alias("dow"),
            F.hour("ts").alias("hour"),
        )
        .groupBy("dow", "hour")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = F.sum("n").over(Window.partitionBy())
    return cells.select("dow", "hour", "n", total.alias("total")).select(
        "dow",
        "hour",
        "n",
        F.expr("(n * 1000000) div total").alias("share_ppm"),
    )


def activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week activity heatmap over events (module docstring)."""
    ev = load_table(spark, sf_dir, "events").select("ts")
    return activity_heatmap_df(ev)


ORACLE_SQL: dict[str, str] = {
    "activity_heatmap": """
    WITH cells AS (
        SELECT dayofweek(CAST(ts AS DATE)) AS dow,
               CAST(hour(ts) AS INT) AS hour,
               COUNT(1) AS n
        FROM events GROUP BY 1, 2
    ),
    t AS (SELECT dow, hour, n, SUM(n) OVER () AS total FROM cells)
    SELECT CAST(dow AS INT) AS dow, hour,
           CAST(n AS BIGINT) AS n,
           CAST((CAST(n AS HUGEINT) * 1000000) // total AS BIGINT)
               AS share_ppm
    FROM t
""",
    "daily_value_percentiles": """
    WITH v AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(ROUND(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS vu
        FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, day,
           COUNT(1) AS n,
           ROUND(quantile_cont(vu, 0.5), 4) AS p50_micro,
           ROUND(quantile_cont(vu, 0.9), 4) AS p90_micro
    FROM v GROUP BY event_type, day
""",
    "type_share_by_day": """
    WITH c AS (
        SELECT CAST(ts AS DATE) AS day, event_type, COUNT(1) AS cnt
        FROM events GROUP BY 1, 2
    ),
    t AS (
        SELECT day, event_type, cnt,
               SUM(cnt) OVER (PARTITION BY day) AS day_total
        FROM c
    )
    SELECT day, event_type,
           CAST(cnt AS BIGINT) AS cnt,
           CAST(day_total AS BIGINT) AS day_total,
           CAST((CAST(cnt AS HUGEINT) * 1000000) // day_total AS BIGINT)
               AS share_ppm
    FROM t
""",
    "new_vs_returning_users": """
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    firsts AS (
        SELECT user_id, MIN(day) AS first_day FROM du GROUP BY user_id
    ),
    tagged AS (
        SELECT du.day,
               CASE WHEN du.day = f.first_day THEN 1 ELSE 0 END AS is_new
        FROM du JOIN firsts f USING (user_id)
    )
    SELECT day,
           COUNT(1) AS n_active,
           CAST(SUM(is_new) AS BIGINT) AS n_new,
           CAST(COUNT(1) - SUM(is_new) AS BIGINT) AS n_returning,
           CAST((CAST(SUM(is_new) AS HUGEINT) * 1000000) // COUNT(1)
                AS BIGINT) AS new_ppm
    FROM tagged GROUP BY day
""",
}
