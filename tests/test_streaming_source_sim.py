"""Streaming source sums: the batch `source_sums_df` run on a streaming
frame must equal the batch sums and feed the batch pairwise scorer
(default tier); the same checkpoint must keep folding (nightly)."""

from __future__ import annotations

import json
import os

import pytest

from bread_spark.extensions.source_sim import similarity_matrix_df, source_sums_df

SCHEMA = "source string, embedding array<float>"

BATCH1 = [
    ("s1", [1.0, 0.0]),
    ("s2", [0.5, 0.5]),
]
BATCH2 = [
    ("s2", [0.0, 1.0]),
    ("s3", [-1.0, 0.0]),
]


def _write(src, name, rows):
    with open(os.path.join(src, name), "w") as f:
        for source, emb in rows:
            f.write(json.dumps({"source": source, "embedding": emb}) + "\n")


def _run(spark, src, ckpt, table):
    stream = spark.readStream.schema(SCHEMA).json(src)
    q = (
        source_sums_df(stream)
        .writeStream.format("memory")
        .queryName(table)
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {table}")


def test_sums_match_batch_and_feed_the_scorer(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src)
    _write(src, "b1.json", BATCH1)
    got = _run(spark, src, ckpt, "ss_t1")
    batch = source_sums_df(spark.createDataFrame(BATCH1, SCHEMA))
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in batch.collect()
    }
    sim_s = similarity_matrix_df(got).collect()
    sim_b = similarity_matrix_df(batch).collect()
    assert sorted(map(tuple, sim_s)) == sorted(map(tuple, sim_b))


@pytest.mark.nightly
def test_sums_fold_on_the_same_checkpoint(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src)
    _write(src, "b1.json", BATCH1)
    _run(spark, src, ckpt, "ss_n1")
    _write(src, "b2.json", BATCH2)
    got2 = _run(spark, src, ckpt, "ss_n2")
    both = source_sums_df(spark.createDataFrame(BATCH1 + BATCH2, SCHEMA))
    assert {tuple(r) for r in got2.collect()} == {
        tuple(r) for r in both.collect()
    }
    sim_s = similarity_matrix_df(got2).collect()
    sim_b = similarity_matrix_df(both).collect()
    assert sorted(map(tuple, sim_s)) == sorted(map(tuple, sim_b))
