"""Streaming stats: the batch daily micro-sum, type-count and Benford
count kernels run on a streaming frame must equal the batch folds and
feed the batch trend/correlation/report projections (default tier);
the same checkpoint must keep folding (nightly)."""

from __future__ import annotations

import json
import os

import pytest

from bread_spark.extensions.stats import (
    benford_counts_df,
    benford_report_df,
    correlation_from_daily,
    trend_from_daily,
)
from bread_spark.extensions.timeseries import _daily_micro
from tests.test_stats import EV_SCHEMA

BATCH1 = [
    ("a", 1, "2024-01-01T05:00:00", 1.0),
    ("a", 2, "2024-01-02T05:00:00", 2.0),
    ("b", 1, "2024-01-01T05:00:00", 3.0),
    ("b", 2, "2024-01-02T05:00:00", 1.5),
]
BATCH2 = [
    ("a", 3, "2024-01-03T05:00:00", 4.0),
    ("b", 3, "2024-01-03T05:00:00", 0.5),
]


def _write(src, name, rows):
    with open(os.path.join(src, name), "w") as f:
        for etype, uid, ts, value in rows:
            f.write(
                json.dumps(
                    {
                        "event_type": etype,
                        "user_id": uid,
                        "ts": ts,
                        "value": value,
                    }
                )
                + "\n"
            )


def _batch_df(spark, rows):
    return spark.createDataFrame(
        [(i, t, u, __import__("datetime").datetime.fromisoformat(ts), v)
         for i, (t, u, ts, v) in enumerate(rows)],
        EV_SCHEMA,
    )


def _run(spark, src, ckpt, table, fold):
    stream = spark.readStream.schema(EV_SCHEMA).json(src)
    q = (
        fold(stream)
        .writeStream.format("memory")
        .queryName(table)
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {table}")


def test_daily_stream_matches_batch_and_feeds_trend_and_corr(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src)
    _write(src, "b1.json", BATCH1)
    from bread_spark.extensions.timeseries import acf_from_daily

    got = _run(spark, src, ckpt, "stats_d1", _daily_micro)
    batch = _daily_micro(_batch_df(spark, BATCH1))
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in batch.collect()
    }
    for proj in (trend_from_daily, correlation_from_daily, acf_from_daily):
        snap = proj(got).collect()
        ref = proj(batch).collect()
        assert sorted(map(tuple, snap)) == sorted(map(tuple, ref))


def test_benford_stream_matches_batch_and_feeds_report(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src)
    _write(src, "b1.json", BATCH1)
    got = _run(spark, src, ckpt, "stats_b1", benford_counts_df)
    batch = benford_counts_df(_batch_df(spark, BATCH1))
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in batch.collect()
    }
    rep_s = benford_report_df(got).collect()
    rep_b = benford_report_df(batch).collect()
    assert sorted(map(tuple, rep_s)) == sorted(map(tuple, rep_b))


@pytest.mark.nightly
def test_daily_stream_folds_on_the_same_checkpoint(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src)
    _write(src, "b1.json", BATCH1)
    _run(spark, src, ckpt, "stats_n1", _daily_micro)
    _write(src, "b2.json", BATCH2)
    got2 = _run(spark, src, ckpt, "stats_n2", _daily_micro)
    both = _daily_micro(_batch_df(spark, BATCH1 + BATCH2))
    assert {tuple(r) for r in got2.collect()} == {
        tuple(r) for r in both.collect()
    }
    snap = trend_from_daily(got2).collect()
    ref = trend_from_daily(both).collect()
    assert sorted(map(tuple, snap)) == sorted(map(tuple, ref))


def test_type_counts_stream_matches_batch_and_feeds_shares(spark, tmp_path):
    from bread_spark.extensions.daily import daily_type_counts_df, type_share_df

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src)
    _write(src, "b1.json", BATCH1)
    got = _run(spark, src, ckpt, "stats_c1", daily_type_counts_df)
    batch = daily_type_counts_df(_batch_df(spark, BATCH1))
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in batch.collect()
    }
    snap = type_share_df(got).collect()
    ref = type_share_df(batch).collect()
    assert sorted(map(tuple, snap)) == sorted(map(tuple, ref))


def test_daily_stream_feeds_forecast_folds(spark, tmp_path):
    """A snapshot of the streamed daily micro table fed through the
    BATCH forecast folds (seasonal-naive backtest, lattice EWMA) IS
    the batch answer — the forecast family's streaming surface, per
    its module note."""
    from bread_spark.extensions.forecast import (
        ewma_df,
        seasonal_naive_error_df,
    )

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src)
    _write(src, "b1.json", BATCH1 + BATCH2)
    got = _run(spark, src, ckpt, "stats_fc1", _daily_micro)
    batch = _daily_micro(_batch_df(spark, BATCH1 + BATCH2))
    for proj in (seasonal_naive_error_df, lambda d: ewma_df(d)):
        snap = proj(got).collect()
        ref = proj(batch).collect()
        assert sorted(map(tuple, snap)) == sorted(map(tuple, ref))

