"""Differential tests for the IBC/gas/txs gold DAG: Spark models vs the
reference SQL translated to DuckDB, over deterministic legacy `indexer`
fixtures (FIXTURES.md §4) — inflow matches, outflow matches, neither,
multiple denoms, >int64 amounts, UNION-collapsing duplicates, orphan
txhashes, ≥3 days / ≥48 hours of timestamps."""

from __future__ import annotations

import json

import duckdb
import pandas as pd
import pytest

from bread_spark import models_ibc as M
# Typed comparison on purpose: these fixtures exercise >int64 amounts as
# DECIMAL(38,0), which the driver's pandas-level protocol would coerce to
# lossy float64. The driver never sees these models — its IBC entries go
# through the models_ibc_catalog BIGINT boundary and the driver-faithful
# gate in test_oracle.py.
from tests.oracle_utils import compare_typed as compare


def _make_legacy_tables():
    txs_rows = []
    logs_rows = []

    def add_tx(txhash, ts, gas):
        txs_rows.append({"txhash": txhash, "timestamp": pd.Timestamp(ts), "gas_used": gas})

    def add_log(txhash, msg_index, parsed: dict):
        logs_rows.append({"txhash": txhash, "msg_index": msg_index, "parsed": json.dumps(parsed)})

    # third entry: an IBC voucher denom that itself contains digits —
    # only the LEADING digit run is the amount (Postgres regexp_replace
    # without 'g' strips just the first match)
    inflow = {
        "message_module": ["ibc_channel", "ibc_channel"],
        "transfer_amount": [
            "1500000uakt",
            "25uatom",
            "500ibc/27394FB092D2ECCD56123C74F36E4C1F926001CEADA9CA97EA622B25F41E5EB2",
        ],
        "fungible_token_packet_sender": ["cosmos1aaa", "cosmos1bbb", "cosmos1ccc"],
        "fungible_token_packet_receiver": ["akash1aaa", "akash1bbb", "akash1ccc"],
        "recv_packet_packet_src_port": ["transfer", "transfer", "transfer"],
        "recv_packet_packet_src_channel": ["channel-0", "channel-1", "channel-2"],
        "recv_packet_packet_dst_port": ["transfer", "transfer", "transfer"],
        "recv_packet_packet_dst_channel": ["channel-9", "channel-8", "channel-7"],
    }
    outflow = {
        "message_module": ["transfer", "ibc_channel"],
        "transfer_amount": ["123456789012345678901234uakt"],  # > int64
        "ibc_transfer_sender": ["akash1out"],
        "ibc_transfer_receiver": ["cosmos1out"],
        "send_packet_packet_src_port": ["transfer"],
        "send_packet_packet_src_channel": ["channel-9"],
        "send_packet_packet_dst_port": ["transfer"],
        "send_packet_packet_dst_channel": ["channel-0"],
    }
    neither = {"message_module": ["bank"], "transfer_amount": ["7uosmo"]}

    # ≥3 days, ≥48 hours
    add_tx("TXIN1", "2023-07-01 03:00:00", 90_000)
    add_tx("TXIN2", "2023-07-02 15:00:00", 120_000)
    add_tx("TXOUT1", "2023-07-03 09:30:00", 75_000)
    add_tx("TXBOTH", "2023-07-03 21:45:00", 200_000)
    add_tx("TXNONE", "2023-07-01 10:00:00", 55_000)
    add_tx("TXNOLOG", "2023-07-02 02:00:00", 40_000)

    add_log("TXIN1", 0, inflow)
    add_log("TXIN2", 0, inflow)  # same parsed, different tx → distinct rows
    add_log("TXIN2", 1, inflow)  # same tx, same parsed → collapses in UNION
    add_log("TXOUT1", 0, outflow)
    add_log("TXBOTH", 0, inflow)
    add_log("TXBOTH", 1, outflow)
    add_log("TXNONE", 0, neither)
    add_log("ORPHAN", 0, inflow)  # txhash not in txs → NULL timestamp (J2)

    return pd.DataFrame(txs_rows), pd.DataFrame(logs_rows)


@pytest.fixture(scope="module")
def legacy(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("legacy")
    txs_pd, logs_pd = _make_legacy_tables()
    txs_path = str(tmp / "txs.parquet")
    logs_path = str(tmp / "logs.parquet")
    # µs timestamps — Spark's reader rejects TIMESTAMP(NANOS) parquet
    txs_pd.to_parquet(txs_path, coerce_timestamps="us", allow_truncated_timestamps=True)
    logs_pd.to_parquet(logs_path)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW txs AS SELECT * FROM '{txs_path}'")
    con.execute(f"CREATE VIEW logs AS SELECT * FROM '{logs_path}'")
    return {
        "txs": spark.read.parquet(txs_path),
        "logs": spark.read.parquet(logs_path),
        "con": con,
    }


# The reference models translated Postgres→DuckDB (same semantics;
# citations per model in bread_spark/models_ibc.py docstrings).
IN_SQL = """
    WITH matched AS (
        SELECT txhash, msg_index,
               unnest(CAST(parsed->'$.transfer_amount' AS VARCHAR[])) AS amt,
               unnest(CAST(parsed->'$.fungible_token_packet_sender' AS VARCHAR[])) AS sender,
               unnest(CAST(parsed->'$.fungible_token_packet_receiver' AS VARCHAR[])) AS receiver,
               unnest(CAST(parsed->'$.recv_packet_packet_src_port' AS VARCHAR[])) AS src_port,
               unnest(CAST(parsed->'$.recv_packet_packet_src_channel' AS VARCHAR[])) AS src_channel,
               unnest(CAST(parsed->'$.recv_packet_packet_dst_port' AS VARCHAR[])) AS dst_port,
               unnest(CAST(parsed->'$.recv_packet_packet_dst_channel' AS VARCHAR[])) AS dst_channel
        FROM logs
        WHERE CAST(parsed->'$.message_module' AS VARCHAR[]) = ['ibc_channel','ibc_channel']
    )
    SELECT m.txhash, m.msg_index,
           CAST(regexp_extract(amt, '^([0-9]*)', 1) AS DECIMAL(38,0)) AS transfer_amount,
           regexp_replace(amt, '^[0-9]*', '') AS transfer_denom,
           sender, receiver, src_port, src_channel, dst_port, dst_channel,
           t.timestamp
    FROM matched m LEFT JOIN txs t ON m.txhash = t.txhash
"""

OUT_SQL = """
    WITH matched AS (
        SELECT txhash, msg_index,
               unnest(CAST(parsed->'$.transfer_amount' AS VARCHAR[])) AS amt,
               unnest(CAST(parsed->'$.ibc_transfer_sender' AS VARCHAR[])) AS sender,
               unnest(CAST(parsed->'$.ibc_transfer_receiver' AS VARCHAR[])) AS receiver,
               unnest(CAST(parsed->'$.send_packet_packet_src_port' AS VARCHAR[])) AS src_port,
               unnest(CAST(parsed->'$.send_packet_packet_src_channel' AS VARCHAR[])) AS src_channel,
               unnest(CAST(parsed->'$.send_packet_packet_dst_port' AS VARCHAR[])) AS dst_port,
               unnest(CAST(parsed->'$.send_packet_packet_dst_channel' AS VARCHAR[])) AS dst_channel
        FROM logs
        WHERE list_contains(CAST(parsed->'$.message_module' AS VARCHAR[]), 'transfer')
          AND list_contains(CAST(parsed->'$.message_module' AS VARCHAR[]), 'ibc_channel')
    )
    SELECT m.txhash, m.msg_index,
           CAST(regexp_extract(amt, '^([0-9]*)', 1) AS DECIMAL(38,0)) AS transfer_amount,
           regexp_replace(amt, '^[0-9]*', '') AS transfer_denom,
           sender, receiver, src_port, src_channel, dst_port, dst_channel,
           t.timestamp
    FROM matched m LEFT JOIN txs t ON m.txhash = t.txhash
"""

# Full-width UNION, mirroring the reference's `select *` union with the
# added amount_over_direction column (ibc_transfers.sql).
FLOWS_SQL = f"""
    SELECT *, transfer_amount AS amount_over_direction FROM ({IN_SQL})
    UNION
    SELECT *, CAST(-transfer_amount AS DECIMAL(38,0)) AS amount_over_direction FROM ({OUT_SQL})
"""


def _grain_sql(grain: str) -> str:
    # CAST: DuckDB date_trunc('day') yields DATE; Spark (and Postgres,
    # which the reference targeted) yield TIMESTAMP
    return f"""
        SELECT CAST(date_trunc('{grain}', timestamp) AS TIMESTAMP) AS {grain}, transfer_denom,
               SUM(amount_over_direction) AS total_amount
        FROM ({FLOWS_SQL}) GROUP BY 1, 2
    """


def _cum_sql(con, grain: str) -> str:
    # Materialize the grain aggregate first: DuckDB 1.0 computes the window
    # with a wrong/unstable row order when it is fused directly onto the
    # aggregation subquery (NULLS LAST ignored, run-to-run nondeterminism —
    # found while differential-testing; a materialized input behaves).
    con.execute(f"CREATE OR REPLACE TEMP TABLE grains_{grain} AS {_grain_sql(grain)}")
    return f"""
        SELECT {grain}, transfer_denom, total_amount,
               SUM(total_amount) OVER (PARTITION BY transfer_denom
                   ORDER BY {grain} ASC NULLS LAST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_amount
        FROM grains_{grain}
    """


def test_ibc_transfers_in(legacy):
    df = M.ibc_transfers_in(legacy["logs"], legacy["txs"])
    ok, msg = compare(df, legacy["con"], IN_SQL)
    assert ok, msg
    # orphan txhash must surface with NULL timestamp (left join)
    rows = {r["txhash"]: r for r in df.collect()}
    assert "ORPHAN" in rows and rows["ORPHAN"]["timestamp"] is None


def test_ibc_transfers_out(legacy):
    df = M.ibc_transfers_out(legacy["logs"], legacy["txs"])
    ok, msg = compare(df, legacy["con"], OUT_SQL)
    assert ok, msg
    # > int64 amount survives as exact decimal
    amounts = {str(r["transfer_amount"]) for r in df.collect()}
    assert "123456789012345678901234" in amounts


def test_ibc_transfers_union_distinct(legacy):
    df = M.ibc_transfers(legacy["logs"], legacy["txs"])
    ok, msg = compare(df, legacy["con"], FLOWS_SQL)
    assert ok, msg
    # TXIN2 has two identical parsed logs at msg_index 0 and 1 — the
    # full-width UNION keeps BOTH (they differ on msg_index), matching the
    # reference's `select *` union semantics
    txin2 = [r for r in df.collect() if r["txhash"] == "TXIN2"]
    assert len(txin2) == 6  # 3 denoms × 2 msg_index
    # digit-containing voucher denom survives intact (leading digits only)
    denoms = {r["transfer_denom"] for r in df.collect()}
    assert "ibc/27394FB092D2ECCD56123C74F36E4C1F926001CEADA9CA97EA622B25F41E5EB2" in denoms


@pytest.mark.parametrize("grain", ["day", "hour"])
def test_flows_by_grain(legacy, grain):
    fn = M.daily_ibc_transfers if grain == "day" else M.hourly_ibc_transfers
    ok, msg = compare(fn(legacy["logs"], legacy["txs"]), legacy["con"], _grain_sql(grain))
    assert ok, msg


@pytest.mark.parametrize("grain", ["day", "hour"])
def test_cum_flows(legacy, grain):
    fn = M.daily_cum_ibc_transfers if grain == "day" else M.hourly_cum_ibc_transfers
    ok, msg = compare(fn(legacy["logs"], legacy["txs"]), legacy["con"], _cum_sql(legacy["con"], grain))
    assert ok, msg


def test_gas_and_tx_models(legacy):
    ok, msg = compare(
        M.gas_used_per_day(legacy["txs"]),
        legacy["con"],
        "SELECT CAST(date_trunc('day', timestamp) AS TIMESTAMP) AS day, SUM(gas_used) AS total_gas_used FROM txs GROUP BY 1",
    )
    assert ok, msg
    ok, msg = compare(
        M.num_txs_per_day(legacy["txs"]),
        legacy["con"],
        "SELECT CAST(date_trunc('day', timestamp) AS TIMESTAMP) AS day, COUNT(1) AS tx_count FROM txs GROUP BY 1",
    )
    assert ok, msg
    ok, msg = compare(
        M.cum_txs_per_day(legacy["txs"]),
        legacy["con"],
        """WITH d AS (SELECT CAST(date_trunc('day', timestamp) AS TIMESTAMP) AS day, COUNT(1) AS tx_count FROM txs GROUP BY 1)
           SELECT day, tx_count, SUM(tx_count) OVER (ORDER BY day ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tx_count FROM d""",
    )
    assert ok, msg


def test_dbt_style_assertions(legacy):
    """SURVEY §2.12: unique + not_null on the day key of the daily models."""
    daily = M.gas_used_per_day(legacy["txs"])
    M.assert_unique(daily, "day")
    M.assert_not_null(daily, "day")
    daily_tx = M.num_txs_per_day(legacy["txs"])
    M.assert_unique(daily_tx, "day")
    M.assert_not_null(daily_tx, "day")


def test_dbt_style_assertions_raise_on_bad_day_grain(spark):
    """A duplicate day and a null day each fail their data test with an
    explicit exception — a bare `assert` would vanish under `python -O`."""
    dup = spark.createDataFrame([("2023-07-01",), ("2023-07-01",)], "day string")
    with pytest.raises(ValueError, match="not unique"):
        M.assert_unique(dup, "day")
    M.assert_not_null(dup, "day")
    null = spark.createDataFrame([("2023-07-01",), (None,)], "day string")
    with pytest.raises(ValueError, match="has nulls"):
        M.assert_not_null(null, "day")
    M.assert_unique(null, "day")


@pytest.mark.parametrize(
    "days, error",
    [
        (["2023-07-01", "2023-07-02"], None),
        (["2023-07-01", "2023-07-01"], "column day not unique"),
        (["2023-07-01", None], "column day has nulls"),
        ([None, None], "column day not unique"),
    ],
)
def test_one_pass_day_grain_check_raises_as_the_pair(spark, days, error):
    """`assert_unique_not_null` raises what `assert_unique` then
    `assert_not_null` raise, nulls grouped as one value."""
    df = spark.createDataFrame([(d,) for d in days], "day string")
    for check in (
        lambda: M.assert_unique_not_null(df, "day"),
        lambda: (M.assert_unique(df, "day"), M.assert_not_null(df, "day")),
    ):
        if error is None:
            check()
        else:
            with pytest.raises(ValueError, match=error):
                check()
