"""Forecast-baseline scoring over the daily per-type rollup — the
backtesting surface a capacity/anomaly stack reads next to the CUSUM /
seasonal monitors: how predictable is each metric, and how far off is
the naive model that production alerting implicitly assumes?

- `seasonal_naive_error_by_type` — per-type error report for the
  seasonal-naive forecaster x̂(d) = x(d−7) (the standard "same day
  last week" baseline, and the one every weekly-seasonal metric must
  beat). One keyed self-join of the daily table on
  (type, day = day+7), then one aggregate: n_days, n_forecasts,
  mae_micro = Σ|x−x̂| div n (exact), mape_ppm = 1e6·Σ|x−x̂| div Σ|x|
  (exact), bias_sum_micro = Σ(x−x̂) (signed exact integer SUM — never
  a divided/rounded double; Spark `div` and DuckDB `//` share
  truncate-toward-zero on negatives, verified in DECISIONS).
- `ewma_daily_value_by_type` — per-(type, day) exponentially-weighted
  moving average with α = 1/2 truncated to the last 20 days, entirely
  on the integer lattice: weight(lag k) = 2^(19−k), so
  ewma = Σ x(d−k)·2^(19−k) div Σ 2^(19−k) is one exact integer
  division of DECIMAL(38,0)/HUGEINT sums. Missing days simply drop
  out of both numerator and denominator (the weights renormalize over
  the days that exist). The scale shape is the bounded ×20 fan-out of
  `rolling_7d_distinct_users` — each daily row serves its next 20
  anchor days via one explode, then one (type, anchor) aggregate and
  a keyed join back to the real-day table; no range join, no window
  over an unbounded frame.

Scale shape: both operators run ENTIRELY on the shared
`timeseries.daily_micro` materialized seam (O(days×types) rows — the
staged rollup table every monitor reads); their own work is a keyed
self-join / bounded fan-out over that aggregate. Overflow honesty:
|x|·2^19 needs < 38 digits — a daily micro-sum would have to exceed
~1e15 dollars-equivalent before DECIMAL(38,0) is threatened, at which
point ANSI errors loudly.

Streaming: the daily micro table IS the streaming surface (one grouped
aggregation — `timeseries._daily_micro` on a streaming frame); a snapshot
through these batch folds is the online backtest/EWMA monitor, the
same frozen-fold discipline as the trend/correlation family.

Reference parity: the reference has no forecasting surface; additive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .timeseries import _DAILY_CTE, daily_micro_frame

EWMA_TERMS = 20  # α = 1/2, truncated: weights 2^19 … 2^0


def seasonal_naive_error_df(daily: DataFrame) -> DataFrame:
    """Per-type seasonal-naive backtest over an (event_type, day, x)
    frame (module docstring)."""
    a = daily.select(
        F.col("event_type").alias("a_type"),
        F.col("day").alias("a_day"),
        F.col("x").alias("xa"),
    )
    b = daily.select(
        F.col("event_type").alias("b_type"),
        F.expr("date_add(day, 7)").alias("b_day"),
        F.col("x").alias("xf"),
    )
    f = a.join(
        b, (F.col("a_type") == F.col("b_type")) & (F.col("a_day") == F.col("b_day"))
    )
    stats = f.groupBy(F.col("a_type").alias("s_type")).agg(
        F.count(F.lit(1)).alias("n_forecasts"),
        F.expr("sum(CAST(abs(xa - xf) AS DECIMAL(38,0)))").alias("sae"),
        F.expr("sum(CAST(abs(xa) AS DECIMAL(38,0)))").alias("saa"),
        F.expr("sum(xa - xf)").alias("bias"),
    )
    days = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    return (
        days.join(stats, F.col("event_type") == F.col("s_type"), "left")
        .select(
            "event_type",
            "n_days",
            F.coalesce(F.col("n_forecasts"), F.lit(0)).alias("n_forecasts"),
            F.expr(
                "CASE WHEN n_forecasts > 0 THEN "
                "CAST(sae div n_forecasts AS BIGINT) END"
            ).alias("mae_micro"),
            F.expr(
                "CASE WHEN saa > 0 THEN "
                "CAST((sae * 1000000) div saa AS BIGINT) END"
            ).alias("mape_ppm"),
            F.expr("CAST(bias AS BIGINT)").alias("bias_sum_micro"),
        )
    )


def seasonal_naive_error_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry (module docstring)."""
    return seasonal_naive_error_df(daily_micro_frame(spark, sf_dir))


def ewma_df(daily: DataFrame, terms: int = EWMA_TERMS) -> DataFrame:
    """Per-(type, day) truncated-EWMA over an (event_type, day, x)
    frame — the bounded ×terms fan-out (module docstring)."""
    top = terms - 1
    sp = (
        daily.select("event_type", "day", "x")
        .withColumn("k", F.explode(F.expr(f"sequence(0, {top})")))
        .select(
            F.col("event_type").alias("g_type"),
            F.expr("date_add(day, CAST(k AS INT))").alias("anchor"),
            F.expr(
                f"CAST(x AS DECIMAL(38,0))"
                f" * CAST(shiftleft(1, {top} - k) AS BIGINT)"
            ).alias("wx"),
            F.expr(f"CAST(shiftleft(1, {top} - k) AS BIGINT)").alias("w"),
        )
    )
    g = sp.groupBy("g_type", "anchor").agg(
        F.expr("sum(wx)").alias("num"),
        F.expr("sum(w)").alias("den"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    return g.join(
        daily,
        (F.col("g_type") == F.col("event_type")) & (F.col("anchor") == F.col("day")),
    ).select(
        "event_type",
        "day",
        F.expr("CAST(x AS BIGINT)").alias("x_micro"),
        F.expr("CAST(num div den AS BIGINT)").alias("ewma_micro"),
        "n_terms",
    )


def ewma_daily_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry (module docstring)."""
    return ewma_df(daily_micro_frame(spark, sf_dir))


ORACLE_SQL: dict[str, str] = {
    "seasonal_naive_error_by_type": _DAILY_CTE
    + """,
    f AS (
        SELECT a.event_type,
               CAST(a.x AS HUGEINT) AS xa,
               CAST(b.x AS HUGEINT) AS xf
        FROM daily a
        JOIN daily b ON a.event_type = b.event_type
                    AND a.day = b.day + 7
    ),
    s AS (
        SELECT event_type, COUNT(*) AS n_forecasts,
               SUM(ABS(xa - xf)) AS sae,
               SUM(ABS(xa)) AS saa,
               SUM(xa - xf) AS bias
        FROM f GROUP BY event_type
    ),
    d AS (
        SELECT event_type, COUNT(*) AS n_days FROM daily GROUP BY event_type
    )
    SELECT d.event_type, d.n_days,
           CAST(COALESCE(s.n_forecasts, 0) AS BIGINT) AS n_forecasts,
           CASE WHEN s.n_forecasts > 0 THEN
               CAST(s.sae // s.n_forecasts AS BIGINT) END AS mae_micro,
           CASE WHEN s.saa > 0 THEN
               CAST((s.sae * 1000000) // s.saa AS BIGINT) END AS mape_ppm,
           CAST(s.bias AS BIGINT) AS bias_sum_micro
    FROM d LEFT JOIN s USING (event_type)
""",
    "ewma_daily_value_by_type": _DAILY_CTE
    + """,
    ks AS (SELECT unnest(range(0, 20)) AS k),
    sp AS (
        SELECT d.event_type, d.day + CAST(k AS INTEGER) AS anchor,
               CAST(d.x AS HUGEINT) * (1 << (19 - k)) AS wx,
               CAST(1 << (19 - k) AS HUGEINT) AS w
        FROM daily d CROSS JOIN ks
    ),
    g AS (
        SELECT event_type, anchor, SUM(wx) AS num, SUM(w) AS den,
               COUNT(*) AS n_terms
        FROM sp GROUP BY 1, 2
    )
    SELECT d.event_type, d.day, CAST(d.x AS BIGINT) AS x_micro,
           CAST(g.num // g.den AS BIGINT) AS ewma_micro,
           g.n_terms
    FROM g
    JOIN daily d ON g.event_type = d.event_type AND g.anchor = d.day
""",
}
