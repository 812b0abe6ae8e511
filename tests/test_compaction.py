"""Partition compaction: many small files → one per partition, data
intact, no staging left behind."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from bread_spark.io import compact_partitions, partition_files


def _parquet_files(path):
    return [
        os.path.join(r, f)
        for r, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    ]


@pytest.fixture()
def fragmented(spark, tmp_path):
    """Simulate incremental appends: 6 micro-batches × 4 tasks of small
    files into 3 day-partitions."""
    path = str(tmp_path / "tbl")
    for batch in range(6):
        df = spark.range(batch * 100, (batch + 1) * 100).select(
            F.col("id"),
            (F.col("id") % 3).cast("string").alias("day"),
            (F.col("id") * 2).alias("v"),
        )
        df.repartition(4).write.mode("append").partitionBy("day").parquet(path)
    return path


def test_compaction_reduces_files_keeps_rows(spark, fragmented):
    before_files = len(_parquet_files(fragmented))
    before = spark.read.parquet(fragmented)
    before_rows = sorted(map(tuple, before.select("id", "day", "v").collect()))
    assert before_files > 20  # genuinely fragmented

    compact_partitions(spark, fragmented, list(partition_files(fragmented)))
    assert partition_files(fragmented) == {"day=0": 1, "day=1": 1, "day=2": 1}
    assert len(_parquet_files(fragmented)) == 3
    after = sorted(
        map(tuple, spark.read.parquet(fragmented).select("id", "day", "v").collect())
    )
    assert after == before_rows
    # no staging/backup leftovers
    assert not [d for d in os.listdir(fragmented) if d.startswith("_compact")]


def test_compaction_of_batch_pipeline_silver(spark, tmp_path):
    """The supported maintenance path: batch-written silver (pipeline
    parse.run) compacts in place and stays readable/appendable."""
    from bread_spark import parse as P
    from tests.fixtures import write_fixture_files

    bdir, tdir, blocks, txs = write_fixture_files(str(tmp_path / "bronze"))
    silver = str(tmp_path / "silver")
    P.run(spark, bdir, tdir, out_dir=silver)
    path = f"{silver}/blocks"
    n1 = spark.read.parquet(path).count()
    assert n1 == len(blocks)

    compact_partitions(spark, path, list(partition_files(path)))
    assert set(partition_files(path).values()) == {1}
    assert spark.read.parquet(path).count() == n1
    # the parsed-file ledger sits at the silver root, outside the table
    # compaction rewrites: the next parse still finds nothing new
    assert P.run(spark, bdir, tdir, out_dir=silver) == {}

    # incremental batch append after compaction works as normal
    raw = P.read_raw_blocks(spark, bdir)
    extra = P.parse_blocks(raw)
    extra.write.mode("append").partitionBy("year", "month", "day").parquet(path)
    assert spark.read.parquet(path).count() == n1 * 2


def test_compact_partitions_rewrites_only_the_named_partitions(spark, fragmented):
    before = partition_files(fragmented)
    rows = sorted(spark.read.parquet(fragmented).collect())
    compact_partitions(spark, fragmented, ["day=0", "day=1"])
    after = partition_files(fragmented)
    assert before["day=0"] > 1 and before["day=1"] > 1
    assert after == {"day=0": 1, "day=1": 1, "day=2": before["day=2"]}
    assert sorted(spark.read.parquet(fragmented).collect()) == rows
    assert not [d for d in os.listdir(fragmented) if d.startswith("_compact")]


def test_compaction_keeps_columns_of_every_appended_batch(spark, tmp_path):
    """Batches appended with different columns (as silver `events`' pivot
    columns are) compact into one file holding the union of them."""
    path = str(tmp_path / "wide")
    for cols in ("id long, a string, day string", "id long, b string, day string"):
        extra = cols.split(", ")[1].split()[0]
        spark.createDataFrame([(len(extra), extra, "d1")], cols).write.mode(
            "append"
        ).partitionBy("day").parquet(path)
    want = spark.read.option("mergeSchema", "true").parquet(path)
    want_rows = Counter(map(tuple, want.select(sorted(want.columns)).collect()))
    compact_partitions(spark, path, ["day=d1"])
    got = spark.read.parquet(path)  # one file left: no mergeSchema needed
    assert partition_files(path) == {"day=d1": 1}
    assert sorted(got.columns) == sorted(want.columns) == ["a", "b", "day", "id"]
    assert Counter(map(tuple, got.select(sorted(got.columns)).collect())) == want_rows

