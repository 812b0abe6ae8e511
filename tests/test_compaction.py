"""Compaction: many small files → few per partition, data intact,
crash-safe swap, optional sort clustering."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from bread_spark.io import compact_partitioned, compact_partitions, partition_files


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

    n_files = compact_partitioned(spark, fragmented, partition_cols=("day",))
    assert n_files == 3  # one file per day-partition
    assert len(_parquet_files(fragmented)) == n_files
    after = sorted(
        map(tuple, spark.read.parquet(fragmented).select("id", "day", "v").collect())
    )
    assert after == before_rows
    # no staging/backup leftovers
    parent = os.path.dirname(fragmented)
    assert not any("compact" in d for d in os.listdir(parent))


def test_compaction_multiple_files_and_sort(spark, fragmented):
    n_files = compact_partitioned(
        spark, fragmented, partition_cols=("day",), files_per_partition=2, sort_by="id"
    )
    assert 3 < n_files <= 6  # up to 2 per partition
    # rows inside each file are clustered by id (row-group pruning aid)
    for f in _parquet_files(fragmented):
        ids = [r["id"] for r in spark.read.parquet(f).select("id").collect()]
        assert ids == sorted(ids)


def test_recover_compaction_all_crash_states(spark, fragmented):
    """Every interruption point of the swap must repair to a consistent
    table with the full row set."""
    import shutil

    from bread_spark.io import recover_compaction

    rows = sorted(
        map(tuple, spark.read.parquet(fragmented).select("id", "day", "v").collect())
    )
    staging = fragmented + "__compacting"
    backup = fragmented + "__precompact"

    # state A: crash after staging write, before first rename
    shutil.copytree(fragmented, staging)
    assert recover_compaction(fragmented) == "cleanup"
    assert not os.path.isdir(staging)

    # state B: crash between the two renames, staging COMPLETE → forward
    shutil.copytree(fragmented, staging)  # has _SUCCESS from the write
    open(os.path.join(staging, "_SUCCESS"), "a").close()
    os.rename(fragmented, backup)
    assert recover_compaction(fragmented) == "forward"
    assert sorted(
        map(tuple, spark.read.parquet(fragmented).select("id", "day", "v").collect())
    ) == rows
    assert not os.path.isdir(backup)

    # state C: crash between renames, staging INCOMPLETE → roll back
    shutil.copytree(fragmented, staging)
    success = os.path.join(staging, "_SUCCESS")
    if os.path.exists(success):
        os.remove(success)
    os.rename(fragmented, backup)
    assert recover_compaction(fragmented) == "back"
    assert sorted(
        map(tuple, spark.read.parquet(fragmented).select("id", "day", "v").collect())
    ) == rows

    # state D: nothing to do
    assert recover_compaction(fragmented) == "clean"

    # and a real compaction after all that still works
    assert compact_partitioned(spark, fragmented, partition_cols=("day",)) == 3


def test_compaction_refuses_streaming_sink(spark, tmp_path):
    """A streaming file sink's _spark_metadata log makes in-place
    compaction unsafe (resumed sink + log-driven readers reference the
    old files) — the function must refuse loudly, not corrupt."""
    import pytest as _pytest

    from bread_spark.streaming import incremental as INC
    from tests.fixtures import write_fixture_files

    bdir, _, blocks, _ = write_fixture_files(str(tmp_path / "bronze"))
    out = str(tmp_path / "silver")
    INC.incremental_blocks(spark, bdir, out, str(tmp_path / "ckpt")).awaitTermination(120)
    assert os.path.isdir(os.path.join(out, "_spark_metadata"))
    with _pytest.raises(ValueError, match="_spark_metadata"):
        compact_partitioned(spark, out, partition_cols=("year", "month", "day"))
    # sink unharmed: stream resumes and reads still work
    assert spark.read.parquet(out).count() == len(blocks)


def test_foreachbatch_sink_is_compactable_and_idempotent(spark, tmp_path):
    """The foreachBatch sink closes the streaming-vs-compaction gap:
    output is a plain partitioned dir (no _spark_metadata) that
    compact_partitioned accepts; restarts don't duplicate batches; the
    idempotency markers survive the compaction swap."""
    from bread_spark.streaming import incremental as INC
    from tests.fixtures import write_fixture_files

    bdir, _, blocks, _ = write_fixture_files(str(tmp_path / "bronze"))
    out = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")

    INC.incremental_blocks_compactable(spark, bdir, out, ckpt).awaitTermination(120)
    assert not os.path.isdir(os.path.join(out, "_spark_metadata"))
    assert os.path.isdir(os.path.join(out, "_batch_markers"))
    n = spark.read.parquet(out).count()
    assert n == len(blocks)

    # restart with the same checkpoint: nothing new → no duplicates
    INC.incremental_blocks_compactable(spark, bdir, out, ckpt).awaitTermination(120)
    assert spark.read.parquet(out).count() == n

    # compaction works on this sink (refused for the plain file sink)
    n_files = compact_partitioned(spark, out)
    assert spark.read.parquet(out).count() == n
    assert len(_parquet_files(out)) == n_files
    assert os.path.isdir(os.path.join(out, "_batch_markers"))  # survived swap

    # new landing files after compaction are picked up exactly once
    extra_dir, _, extra_blocks, _ = write_fixture_files(str(tmp_path / "bronze2"))
    for f in os.listdir(extra_dir):
        os.rename(
            os.path.join(extra_dir, f), os.path.join(bdir, "extra_" + f)
        )
    INC.incremental_blocks_compactable(spark, bdir, out, ckpt).awaitTermination(120)
    assert spark.read.parquet(out).count() == n + len(extra_blocks)


def test_compactable_sink_refuses_foreign_marker_namespace(spark, tmp_path):
    """A DELETED/recreated checkpoint restarts batch ids at 0; with
    un-namespaced markers those batches would silently no-op (data loss).
    Run-id-namespaced markers must instead refuse to start, and
    force_new_run must knowingly append (ADVICE r2 #3)."""
    import shutil

    import pytest as _pytest

    from bread_spark.streaming import incremental as INC
    from tests.fixtures import write_fixture_files

    bdir, _, blocks, _ = write_fixture_files(str(tmp_path / "bronze"))
    out = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")

    INC.incremental_blocks_compactable(spark, bdir, out, ckpt).awaitTermination(120)
    n = spark.read.parquet(out).count()
    assert n == len(blocks)

    # wipe the checkpoint: same out_dir now holds a foreign marker namespace
    shutil.rmtree(ckpt)
    with _pytest.raises(ValueError, match="force_new_run"):
        INC.incremental_blocks_compactable(spark, bdir, out, ckpt)
    assert spark.read.parquet(out).count() == n  # nothing written or lost

    # explicit opt-in: the new run re-appends (documented duplicate risk)
    INC.incremental_blocks_compactable(
        spark, bdir, out, ckpt, force_new_run=True
    ).awaitTermination(120)
    assert spark.read.parquet(out).count() == 2 * n

    # and the opted-in run's own restarts stay idempotent
    INC.incremental_blocks_compactable(
        spark, bdir, out, ckpt, force_new_run=True
    ).awaitTermination(120)
    assert spark.read.parquet(out).count() == 2 * n


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

    n_files = compact_partitioned(spark, path)
    assert len(_parquet_files(path)) == n_files
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
    compact_partitions(spark, fragmented, ["day=0", "day=1"], partition_cols=("day",))
    after = partition_files(fragmented)
    assert before["day=0"] > 1 and before["day=1"] > 1
    assert after == {"day=0": 1, "day=1": 1, "day=2": before["day=2"]}
    assert sorted(spark.read.parquet(fragmented).collect()) == rows
    assert not [d for d in os.listdir(fragmented) if d.startswith("_compact")]


@pytest.mark.parametrize("grain", ["table", "partitions"])
def test_compaction_keeps_columns_of_every_appended_batch(spark, tmp_path, grain):
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
    if grain == "table":
        compact_partitioned(spark, path, partition_cols=("day",))
    else:
        compact_partitions(spark, path, ["day=d1"], partition_cols=("day",))
    got = spark.read.parquet(path)  # one file left: no mergeSchema needed
    assert partition_files(path) == {"day=d1": 1}
    assert sorted(got.columns) == sorted(want.columns) == ["a", "b", "day", "id"]
    assert Counter(map(tuple, got.select(sorted(got.columns)).collect())) == want_rows


def test_merge_upsert_insert_update_delete_version(spark, tmp_path):
    """MERGE semantics on a plain-parquet table: update-in-place by key,
    insert of new keys, tombstone deletes, and version ordering among
    multiple updates for the same key."""
    from bread_spark.io import merge_upsert

    path = str(tmp_path / "users")
    spark.createDataFrame(
        [(1, "alice", 10), (2, "bob", 20), (3, "carol", 30)],
        "id long, name string, score int",
    ).write.parquet(path)

    updates = spark.createDataFrame(
        [
            # two updates for id 2 — version 7 must win over 5
            (2, "bob-v5", 25, 5, False),
            (2, "bob-v7", 27, 7, False),
            (3, None, None, 9, True),  # tombstone carol
            (4, "dave", 40, 1, False),  # brand-new key
        ],
        "id long, name string, score int, v int, deleted boolean",
    )
    n = merge_upsert(
        spark, path, updates, ("id",), version_col="v", delete_col="deleted"
    )
    assert n == 3
    rows = {r["id"]: r for r in spark.read.parquet(path).collect()}
    assert set(rows) == {1, 2, 4}
    assert rows[1]["name"] == "alice"  # untouched base row survives
    assert rows[2]["name"] == "bob-v7" and rows[2]["score"] == 27
    assert rows[4]["name"] == "dave"
    assert "deleted" not in spark.read.parquet(path).columns


def test_merge_upsert_updates_beat_base_without_version(spark, tmp_path):
    from bread_spark.io import merge_upsert

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "old")], "id long, val string").write.parquet(path)
    up = spark.createDataFrame([(1, "new")], "id long, val string")
    merge_upsert(spark, path, up, ("id",))
    assert spark.read.parquet(path).collect()[0]["val"] == "new"
