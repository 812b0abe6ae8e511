"""Streaming A/B moments: the batch `ab_moments_df` run on a streaming
frame must equal the batch fold and feed the batch report (default
tier); the same checkpoint must keep folding (nightly)."""

from __future__ import annotations

import json
import os

import pytest

from bread_spark.extensions.abtest import ab_moments_df, ab_report_df
from tests.test_abtest import EV_SCHEMA

BATCH1 = [
    ("t", 0, 1.0),
    ("t", 2, 2.0),
    ("t", 1, 5.0),
    ("u", 4, 3.0),
]
BATCH2 = [
    ("t", 3, 5.0),
    ("u", 5, 4.0),
]


def _write(src, name, rows):
    with open(os.path.join(src, name), "w") as f:
        for etype, uid, value in rows:
            f.write(
                json.dumps(
                    {"event_type": etype, "user_id": uid, "value": value}
                )
                + "\n"
            )


def _run(spark, src, ckpt, table):
    stream = spark.readStream.schema(EV_SCHEMA).json(src)
    q = (
        ab_moments_df(stream)
        .writeStream.format("memory")
        .queryName(table)
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {table}")


def test_moments_match_batch_and_feed_the_report(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src)
    _write(src, "b1.json", BATCH1)
    got = _run(spark, src, ckpt, "ab_t1")
    batch = ab_moments_df(spark.createDataFrame(BATCH1, EV_SCHEMA))
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in batch.collect()
    }
    rep_s = ab_report_df(got).collect()
    rep_b = ab_report_df(batch).collect()
    assert sorted(map(tuple, rep_s)) == sorted(map(tuple, rep_b))


@pytest.mark.nightly
def test_moments_fold_on_the_same_checkpoint(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src)
    _write(src, "b1.json", BATCH1)
    _run(spark, src, ckpt, "ab_n1")
    _write(src, "b2.json", BATCH2)
    got2 = _run(spark, src, ckpt, "ab_n2")
    both = ab_moments_df(spark.createDataFrame(BATCH1 + BATCH2, EV_SCHEMA))
    assert {tuple(r) for r in got2.collect()} == {
        tuple(r) for r in both.collect()
    }
    rep_s = ab_report_df(got2).collect()
    rep_b = ab_report_df(both).collect()
    assert sorted(map(tuple, rep_s)) == sorted(map(tuple, rep_b))
