"""Streaming pins of the stats family.

The (event_type, day, x) daily micro-sum table, the (day, event_type)
count table and the Benford (event_type, digit) count table are each
one grouped aggregation, so their batch kernels (`_daily_micro`,
`daily_type_counts_df`, `benford_counts_df`) run unchanged on a
streaming frame in complete mode; a snapshot fed through the batch
projections IS the batch answer over everything seen. Pinned,
including a checkpoint fold, in tests/test_streaming_stats.py.

Batch-only members (module-docstring notes in extensions/stats.py):
`source_concentration` (total-order Gini rank — snapshot sort, not an
incremental fold) and `rolling_7d_distinct_users` / the exact
DAU/WAU/MAU panel (sliding COUNT DISTINCT needs per-(day,user) dedup
state). The approximate online sibling of the engagement panel is
`engagement_register_stream` below: per-day HLL user registers in the
`hll_windowed_register_stream` shape (watermark-evicted, ≤M rows per
closed day), whose snapshot through the batch
`engagement_hll_panel_df` estimator is the online stickiness read —
register rows pinned bit-identical to the batch build in
tests/test_streaming_stats.py (nightly, with a default-tier
merge-equivalence sibling pin)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def engagement_register_stream(
    stream: DataFrame, ts_col: str = "ts", lateness: str = "1 hour"
) -> DataFrame:
    """Per-day HLL user registers over the event stream — the online
    sibling of the batch engagement panel (module docstring). Same
    md5/rho integer arithmetic and NULL-user filter as the batch
    `engagement_user_registers_df`, so a closed day's register rows are
    bit-identical to a batch build over that day's events (pinned).
    State is O(open days · M) and evicts with the watermark; each
    finalized day emits its ≤M rows (day, bucket, max_rho) in append
    mode — still mergeable downstream, which is exactly what the
    `engagement_hll_panel_df` ×7/×30 max-merge consumes."""
    from ..extensions.sketch import HLL_M, _HLL_U32, _rho_sql

    rows = (
        stream.filter(F.col("user_id").isNotNull())
        .select(ts_col, F.col("user_id").cast("string").alias("token"))
        .select(
            ts_col,
            F.expr(f"{_HLL_U32} % {HLL_M}").alias("bucket"),
            F.expr(_rho_sql(f"({_HLL_U32} div {HLL_M})")).alias("rho"),
        )
    )
    return (
        rows.withWatermark(ts_col, lateness)
        .groupBy(F.window(ts_col, "1 day").alias("win"), F.col("bucket"))
        .agg(F.max("rho").alias("max_rho"))
        .select(
            F.col("win").getField("start").cast("date").alias("day"),
            "bucket",
            "max_rho",
        )
    )
