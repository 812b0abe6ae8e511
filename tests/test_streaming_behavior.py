"""Streaming conversion firsts: the batch `conversion_firsts_df` run on
a streaming frame must equal the batch fold and feed the batch report
(default tier); the same checkpoint must keep folding — including a user whose
first signup arrives in a LATER batch than their purchase (nightly)."""

from __future__ import annotations

import datetime
import json
import os

import pytest

from bread_spark.extensions.behavior import (
    conversion_firsts_df,
    conversion_report_df,
)
from tests.test_behavior import EV_SCHEMA

BATCH1 = [
    ("signup", 1, "2024-01-01T00:00:00"),
    ("purchase", 1, "2024-01-01T00:02:00"),
    ("purchase", 2, "2024-01-01T01:00:00"),
]
BATCH2 = [
    ("signup", 2, "2024-01-01T00:30:00"),  # signup arrives late, still first
    ("purchase", 3, "2024-01-02T00:00:00"),
    ("signup", 3, "2024-01-01T00:00:00"),
]


def _write(src, name, rows):
    with open(os.path.join(src, name), "w") as f:
        for etype, uid, ts in rows:
            f.write(
                json.dumps(
                    {"event_type": etype, "user_id": uid, "ts": ts, "value": 1.0}
                )
                + "\n"
            )


def _batch_df(spark, rows):
    return spark.createDataFrame(
        [
            (i, t, u, datetime.datetime.fromisoformat(ts), 1.0)
            for i, (t, u, ts) in enumerate(rows)
        ],
        EV_SCHEMA,
    )


def _run(spark, src, ckpt, table):
    stream = spark.readStream.schema(EV_SCHEMA).json(src)
    q = (
        conversion_firsts_df(stream)
        .writeStream.format("memory")
        .queryName(table)
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {table}")


def test_firsts_match_batch_and_feed_the_report(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src)
    _write(src, "b1.json", BATCH1)
    got = _run(spark, src, ckpt, "behav_t1")
    batch = conversion_firsts_df(_batch_df(spark, BATCH1))
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in batch.collect()
    }
    rep_s = conversion_report_df(got).collect()
    rep_b = conversion_report_df(batch).collect()
    assert sorted(map(tuple, rep_s)) == sorted(map(tuple, rep_b))


@pytest.mark.nightly
def test_firsts_fold_late_signup_on_the_same_checkpoint(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src)
    _write(src, "b1.json", BATCH1)
    _run(spark, src, ckpt, "behav_n1")
    _write(src, "b2.json", BATCH2)
    got2 = _run(spark, src, ckpt, "behav_n2")
    both = conversion_firsts_df(_batch_df(spark, BATCH1 + BATCH2))
    assert {tuple(r) for r in got2.collect()} == {
        tuple(r) for r in both.collect()
    }
    rep_s = conversion_report_df(got2).collect()
    rep_b = conversion_report_df(both).collect()
    assert sorted(map(tuple, rep_s)) == sorted(map(tuple, rep_b))
