"""The reference's dbt model DAG (old_models/**) rebuilt Spark-first.

Input tables mirror the legacy `indexer` sources (FIXTURES.md §4):
  txs  — txhash, timestamp, gas_used, ... (reference _indexer.yml:18-33)
  logs — txhash, msg_index, parsed (JSON string of key → array<string>)

Model DAG (reference dbt/old_models/**, semantics per SURVEY.md §2):
  ibc_transfers_in   P9-P15, J2  (ibc/ibc_transfers_in.sql)
  ibc_transfers_out  P9-P14, P16, J2  (ibc/ibc_transfers_out.sql)
  ibc_transfers      S-OP1 union-DISTINCT  (ibc/ibc_transfers.sql)
  daily/hourly_ibc_transfers  A1/A2 + P7  (ibc/{daily,hourly}_ibc_transfers.sql)
  daily/hourly_cum_ibc_transfers  W1  (ibc/{daily,hourly}_cum_ibc_transfers.sql)
  gas_used_per_day   A3  (gas/gas_used_per_day.sql)
  num_txs_per_day    A4  (txs/num_txs_per_day.sql)
  cum_txs_per_day    W1  (txs/cum_txs_per_day.sql)

Divergences (documented, SURVEY §7):
  - amounts: DecimalType(38,0) vs unbounded ::numeric — overflow raises
    under ANSI instead of silently wrapping; 38 digits covers every
    on-chain denom in practice (18-decimals tokens ≈ 10^24 max supply).
  - model-level ORDER BY is not persisted (Spark table writes are
    unordered); ordering belongs to serving queries.
  - the daily/hourly cumulative windows partition by denom (the
    reference's unpartitioned window is a correctness bug per-denom).

Scale: parsed-JSON extraction is from_json (JVM); the logs⟵txs timestamp
join broadcasts whichever side is dimensional; aggregates are day/denom
grained so windows run on tiny frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StringType

PARSED_SCHEMA = MapType(StringType(), ArrayType(StringType()))

AMOUNT_DECIMAL = "decimal(38,0)"


def _parsed(logs: DataFrame) -> DataFrame:
    return logs.withColumn("p", F.from_json("parsed", PARSED_SCHEMA))


def ibc_transfers_in(logs: DataFrame, txs: DataFrame) -> DataFrame:
    """Inflows (reference ibc/ibc_transfers_in.sql).

    Filter: parsed->'message_module' == exactly ['ibc_channel','ibc_channel']
    (P15 array equality). Parallel unnest of the packet columns uses
    arrays_zip → one explode (zip semantics — what Postgres' parallel
    set-returning functions and DuckDB's parallel unnest both do).
    Amount split: leading digits (P9) / denom suffix (P10).
    """
    p = _parsed(logs)
    inflow = p.filter(
        F.col("p")["message_module"] == F.array(F.lit("ibc_channel"), F.lit("ibc_channel"))
    )
    zipped = inflow.select(
        "txhash",
        "msg_index",
        F.explode(
            F.arrays_zip(
                F.col("p")["transfer_amount"].alias("transfer_amount"),
                F.col("p")["fungible_token_packet_sender"].alias("sender"),
                F.col("p")["fungible_token_packet_receiver"].alias("receiver"),
                F.col("p")["recv_packet_packet_src_port"].alias("src_port"),
                F.col("p")["recv_packet_packet_src_channel"].alias("src_channel"),
                F.col("p")["recv_packet_packet_dst_port"].alias("dst_port"),
                F.col("p")["recv_packet_packet_dst_channel"].alias("dst_channel"),
            )
        ).alias("z"),
    ).select(
        "txhash",
        "msg_index",
        F.regexp_extract(F.col("z.transfer_amount"), "^([0-9]*)", 1)
        .cast(AMOUNT_DECIMAL)
        .alias("transfer_amount"),
        # Postgres regexp_replace without the 'g' flag replaces only the
        # FIRST match — i.e. strips just the leading digit run; denoms may
        # themselves contain digits ('123ibc/27AB...' → 'ibc/27AB...')
        F.regexp_replace(F.col("z.transfer_amount"), "^[0-9]*", "").alias("transfer_denom"),
        F.col("z.sender").alias("sender"),
        F.col("z.receiver").alias("receiver"),
        F.col("z.src_port").alias("src_port"),
        F.col("z.src_channel").alias("src_channel"),
        F.col("z.dst_port").alias("dst_port"),
        F.col("z.dst_channel").alias("dst_channel"),
    )
    # J2: left join for the timestamp (logs with no tx → NULL timestamp)
    return zipped.join(txs.select("txhash", "timestamp"), "txhash", "left")


def ibc_transfers_out(logs: DataFrame, txs: DataFrame) -> DataFrame:
    """Outflows (reference ibc/ibc_transfers_out.sql). Filter is
    containment (P14): message_module has 'transfer' AND 'ibc_channel'."""
    p = _parsed(logs)
    outflow = p.filter(
        F.array_contains(F.col("p")["message_module"], "transfer")
        & F.array_contains(F.col("p")["message_module"], "ibc_channel")
    )
    zipped = outflow.select(
        "txhash",
        "msg_index",
        F.explode(
            F.arrays_zip(
                F.col("p")["transfer_amount"].alias("transfer_amount"),
                F.col("p")["ibc_transfer_sender"].alias("sender"),
                F.col("p")["ibc_transfer_receiver"].alias("receiver"),
                F.col("p")["send_packet_packet_src_port"].alias("src_port"),
                F.col("p")["send_packet_packet_src_channel"].alias("src_channel"),
                F.col("p")["send_packet_packet_dst_port"].alias("dst_port"),
                F.col("p")["send_packet_packet_dst_channel"].alias("dst_channel"),
            )
        ).alias("z"),
    ).select(
        "txhash",
        "msg_index",
        F.regexp_extract(F.col("z.transfer_amount"), "^([0-9]*)", 1)
        .cast(AMOUNT_DECIMAL)
        .alias("transfer_amount"),
        # leading digit run only — see ibc_transfers_in
        F.regexp_replace(F.col("z.transfer_amount"), "^[0-9]*", "").alias("transfer_denom"),
        F.col("z.sender").alias("sender"),
        F.col("z.receiver").alias("receiver"),
        F.col("z.src_port").alias("src_port"),
        F.col("z.src_channel").alias("src_channel"),
        F.col("z.dst_port").alias("dst_port"),
        F.col("z.dst_channel").alias("dst_channel"),
    )
    return zipped.join(txs.select("txhash", "timestamp"), "txhash", "left")


def ibc_transfers(logs: DataFrame, txs: DataFrame) -> DataFrame:
    """in ∪ out (reference ibc_transfers.sql): full-width `select *` union
    with an added `amount_over_direction` (= +amount in, -amount out; P16).

    UNION **distinct** semantics preserved at full row width — two
    legitimate identical transfers in one tx at different msg_index are
    both kept (they differ on msg_index), matching the reference exactly.
    """
    inflow = ibc_transfers_in(logs, txs).withColumn(
        "amount_over_direction", F.col("transfer_amount")
    )
    outflow = ibc_transfers_out(logs, txs).withColumn(
        "amount_over_direction", (-F.col("transfer_amount")).cast(AMOUNT_DECIMAL)
    )
    return inflow.unionByName(outflow).distinct()


def _flows_by_grain(logs: DataFrame, txs: DataFrame, grain: str) -> DataFrame:
    flows = ibc_transfers(logs, txs)
    return (
        flows.select(
            F.date_trunc(grain, "timestamp").alias(grain),
            "transfer_denom",
            "amount_over_direction",
        )
        .groupBy(grain, "transfer_denom")
        .agg(F.sum("amount_over_direction").alias("total_amount"))
    )


def daily_ibc_transfers(logs: DataFrame, txs: DataFrame) -> DataFrame:
    """A1 (reference daily_ibc_transfers.sql:1-19)."""
    return _flows_by_grain(logs, txs, "day")


def hourly_ibc_transfers(logs: DataFrame, txs: DataFrame) -> DataFrame:
    """A2 (reference hourly_ibc_transfers.sql:1-19)."""
    return _flows_by_grain(logs, txs, "hour")


def _cum(df: DataFrame, grain: str) -> DataFrame:
    # asc_nulls_last: Spark ASC defaults NULLS FIRST, Postgres (the
    # reference dialect) NULLS LAST — NULL-timestamp flows accumulate last
    w = (
        Window.partitionBy("transfer_denom")
        .orderBy(F.asc_nulls_last(grain))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.select(
        grain, "transfer_denom", "total_amount", F.sum("total_amount").over(w).alias("cum_amount")
    )


def daily_cum_ibc_transfers(logs: DataFrame, txs: DataFrame) -> DataFrame:
    """W1 with the per-denom partition correction (SURVEY W1 note)."""
    return _cum(daily_ibc_transfers(logs, txs), "day")


def hourly_cum_ibc_transfers(logs: DataFrame, txs: DataFrame) -> DataFrame:
    return _cum(hourly_ibc_transfers(logs, txs), "hour")


def txs_per_day(txs: DataFrame) -> DataFrame:
    """(day, total_gas_used, tx_count): the one day-grain aggregate the
    three tx models project from (`tx_day_models`)."""
    return (
        txs.select(F.date_trunc("day", "timestamp").alias("day"), "gas_used")
        .groupBy("day")
        .agg(
            F.sum("gas_used").alias("total_gas_used"),
            F.count(F.lit(1)).alias("tx_count"),
        )
    )


def tx_day_models(daily: DataFrame) -> dict[str, DataFrame]:
    """The three tx models as projections of a `txs_per_day` aggregate;
    the cumulative count is a global window over the tiny day-grain frame.

      gas_used_per_day  A3  (reference gas/gas_used_per_day.sql:1-5)
      num_txs_per_day   A4  (reference txs/num_txs_per_day.sql:1-11)
      cum_txs_per_day   W1  (reference txs/cum_txs_per_day.sql:4-8)
    """
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return {
        "gas_used_per_day": daily.select("day", "total_gas_used"),
        "num_txs_per_day": daily.select("day", "tx_count"),
        "cum_txs_per_day": daily.select(
            "day", "tx_count", F.sum("tx_count").over(w).alias("cum_tx_count")
        ),
    }


def gas_used_per_day(txs: DataFrame) -> DataFrame:
    return tx_day_models(txs_per_day(txs))["gas_used_per_day"]


def num_txs_per_day(txs: DataFrame) -> DataFrame:
    return tx_day_models(txs_per_day(txs))["num_txs_per_day"]


def cum_txs_per_day(txs: DataFrame) -> DataFrame:
    return tx_day_models(txs_per_day(txs))["cum_txs_per_day"]


# ---------------------------------------------------------------------------
# dbt data-test analogs (SURVEY §2.12): assertion helpers. They raise
# ValueError explicitly; `python -O` strips a bare `assert`.
# ---------------------------------------------------------------------------


def assert_unique(df: DataFrame, col: str) -> None:
    if not df.groupBy(col).count().filter("count > 1").isEmpty():
        raise ValueError(f"column {col} not unique")


def assert_not_null(df: DataFrame, col: str) -> None:
    if not df.filter(F.col(col).isNull()).isEmpty():
        raise ValueError(f"column {col} has nulls")
