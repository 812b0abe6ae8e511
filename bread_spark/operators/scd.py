"""SCD Type-2 interval construction — the temporal-dimension pattern.

Turns an append-only event stream into the slowly-changing-dimension
shape a warehouse serves: one validity interval per observed state,
`[valid_from, valid_to)` half-open, with the latest row open-ended
(`valid_to` NULL, `is_current` true). The reference's gold models are
snapshot tables; this is the standard temporalization a consumer
builds on top of any of them, so it ships as a first-class operator.

Exactness: interval bounds are exact epoch-micros bigints
(`unix_micros` ↔ `epoch_us`, the certified pair), ordering is the
certified (ts, event_id) tie-break, and duration_s is the engines'
shared truncating integer division on non-negative operands. No
floats anywhere.

Scale shape: ONE user-keyed window exchange (LEAD) — the `asof`/
`twap` cost; output is exactly one row per input event, map-side
after the exchange. Streaming: batch-only as an operator — closing an
interval requires the NEXT event, i.e. per-key buffering until a
successor arrives.

Reference parity: the reference has no temporal-dimension operator;
additive (SURVEY.md §2 serving-layer neighborhood).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load_table


def scd2_intervals_df(ev: DataFrame) -> DataFrame:
    """(user_id, event_id, event_type, value_micro, valid_from_us,
    valid_to_us, is_current, duration_s) — one validity interval per
    event, per user (module docstring)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    rows = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.round(F.col("value").cast("double") * 1_000_000)
        .cast("long")
        .alias("value_micro"),
        "ts",
        us.alias("valid_from_us"),
    ).select(
        "user_id",
        "event_id",
        "event_type",
        "value_micro",
        "valid_from_us",
        F.lead("valid_from_us").over(w).alias("valid_to_us"),
    )
    return rows.select(
        "user_id",
        "event_id",
        "event_type",
        "value_micro",
        "valid_from_us",
        "valid_to_us",
        F.col("valid_to_us").isNull().alias("is_current"),
        F.expr(
            "CASE WHEN valid_to_us IS NOT NULL THEN "
            "(valid_to_us - valid_from_us) div 1000000 END"
        ).alias("duration_s"),
    )


def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 temporalization of the events stream (module docstring)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts", "value"
    )
    return scd2_intervals_df(ev)


ORACLE_SQL: dict[str, str] = {
    "scd2_user_state": """
    WITH rows_us AS (
        SELECT user_id, event_id, event_type,
               CAST(ROUND(CAST(value AS DOUBLE) * 1000000) AS BIGINT)
                   AS value_micro,
               epoch_us(ts) AS valid_from_us,
               lead(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS valid_to_us
        FROM events
    )
    SELECT user_id, event_id, event_type, value_micro,
           valid_from_us, valid_to_us,
           valid_to_us IS NULL AS is_current,
           CASE WHEN valid_to_us IS NOT NULL THEN
               CAST((valid_to_us - valid_from_us) // 1000000 AS BIGINT)
           END AS duration_s
    FROM rows_us
""",
}
