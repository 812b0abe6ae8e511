"""End-to-end flow: mock RPC → landing zone → silver parquet → gold
models (SURVEY.md §3 entry point A, §2.9 S7)."""

from __future__ import annotations

import json
import os
import shutil
import threading
from collections import Counter

import pytest

from bread_spark import io
from bread_spark import parse as P
from bread_spark.pipeline import build_gold, data_pipeline
from tests.fixtures import (
    START_HEIGHT,
    make_blocks,
    make_mock_rpc,
    make_txs,
    write_fixture_files,
)

N_BLOCKS = 30


@pytest.fixture(scope="module")
def chain():
    blocks = make_blocks(N_BLOCKS)
    return blocks, make_txs(blocks)


def test_full_pipeline(spark, tmp_path, chain):
    blocks, txs = chain
    landing = str(tmp_path / "landing")
    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")

    res = data_pipeline(
        spark,
        "http://node",
        landing,
        silver,
        gold,
        num_blocks=10,  # head-10 forward window, then backfill chunks
        backfill_batches=5,
        fetch=make_mock_rpc(blocks, txs),
    )

    # forward sync topped out at the head; backfill walked down to min_node
    assert res.sync_range is not None and res.sync_range[1] == START_HEIGHT + N_BLOCKS - 1
    assert res.backfill_ranges, "expected at least one backfill batch"
    assert res.metadata["min_ingested_height"] == START_HEIGHT
    assert res.metadata["max_ingested_height"] == START_HEIGHT + N_BLOCKS - 1

    # silver complete: every block landed exactly once (idempotent ranges)
    assert res.silver_counts["blocks"] == N_BLOCKS
    assert res.silver_counts["tx_result"] == len(txs)
    # gold is consistent with silver
    daily = spark.read.parquet(f"{gold}/num_txs_per_day")
    assert daily.agg({"tx_count": "sum"}).first()[0] == len(txs)
    cum = spark.read.parquet(f"{gold}/cum_txs_per_day").orderBy("day").collect()
    assert cum[-1]["cum_tx_count"] == len(txs)


def test_pipeline_rerun_is_incremental(spark, tmp_path, chain):
    """Second run with no new chain growth plans an empty-ish sync and
    doesn't duplicate silver rows (watermark semantics, S1/S5)."""
    blocks, txs = chain
    landing = str(tmp_path / "landing")
    silver = str(tmp_path / "silver")
    fetch = make_mock_rpc(blocks, txs)

    r1 = data_pipeline(spark, "http://node", landing, silver, num_blocks=100, fetch=fetch)
    assert r1.silver_counts["blocks"] == N_BLOCKS
    r2 = data_pipeline(spark, "http://node", landing, silver, num_blocks=100, fetch=fetch)
    # watermark at head → nothing re-fetched; every landed file is in the
    # parsed-file ledger, so parse appends nothing → same counts
    assert r2.silver_counts == r1.silver_counts

    # with no new bronze, parse runs no Spark job at all
    sc = spark.sparkContext
    sc.setJobGroup("parse-noop", "parse with nothing new")
    try:
        parsed = P.run(spark, *_bronze(landing), out_dir=silver)
        jobs = sc.statusTracker().getJobIdsForGroup("parse-noop")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert parsed == {} and list(jobs) == []


def test_build_gold_views_without_dir(spark, tmp_path, chain):
    blocks, txs = chain
    landing = str(tmp_path / "landing")
    silver = str(tmp_path / "silver")
    data_pipeline(
        spark, "http://node", landing, silver, num_blocks=100, fetch=make_mock_rpc(blocks, txs)
    )
    models = build_gold(spark, silver, gold_dir=None)  # SRC14: view path
    assert spark.sql("SELECT SUM(tx_count) AS n FROM num_txs_per_day").first()["n"] == len(txs)
    assert set(models) == {"gas_used_per_day", "num_txs_per_day", "cum_txs_per_day"}


@pytest.mark.parametrize("healed", [True, False])
def test_flow_repairs_dead_lettered_heights(spark, tmp_path, chain, healed):
    """Flow 1 runs over a node whose fifth height fails to parse even at
    one item per page: the scan dead-letters it and every height after it
    in its range. Flow 2 repairs that tail with one range scan. Over the
    healed node silver then holds every height exactly once and nothing
    stays dead-lettered; over a node still broken for the bad height,
    point lookup included, flow 2 still finishes, lands the heights after
    it, and keeps only the bad height dead-lettered."""
    blocks, txs = chain
    bad = START_HEIGHT + 4
    healthy = make_mock_rpc(blocks, txs)

    def broken(url):
        if url.endswith(f"/block?height={bad}"):
            raise json.JSONDecodeError("too big", "", 0)
        resp = healthy(url)
        if any(int(b["block"]["header"]["height"]) == bad for b in resp.get("result", {}).get("blocks", [])):
            raise json.JSONDecodeError("too big", "", 0)
        return resp

    landing, silver = str(tmp_path / "landing"), str(tmp_path / "silver")
    errors = f"{landing}/testnet/errors/error_heights.json"
    landed = f"{landing}/testnet/blocks"
    for fetch in (broken, healthy if healed else broken):
        before = set(os.listdir(landed)) if os.path.isdir(landed) else set()
        res = data_pipeline(
            spark, "http://node", landing, silver, num_blocks=10, backfill_batches=5, fetch=fetch
        )
        if fetch is broken and not before:
            with open(errors) as f:
                tail = json.load(f)
            assert tail[0] == bad and tail == list(range(bad, tail[-1] + 1))
            assert res.silver_counts["blocks"] == N_BLOCKS - len(tail)

    lo = bad if healed else bad + 1
    assert set(os.listdir(landed)) - before == {f"{lo}_{tail[-1]}.json"}
    missing = set() if healed else {str(bad)}
    heights = spark.read.parquet(f"{silver}/blocks").select("height")
    assert heights.count() == heights.distinct().count() == N_BLOCKS - len(missing)
    assert res.silver_counts["tx_result"] == sum(t["height"] not in missing for t in txs)
    with open(errors) as f:
        assert json.load(f) == ([] if healed else [bad])


# ---------------------------------------------------------------------------
# incremental parse: the parsed-file ledger in silver
# ---------------------------------------------------------------------------


def _bronze(landing: str) -> tuple[str, str]:
    return f"{landing}/testnet/blocks", f"{landing}/testnet/txs"


def _flow(spark, landing, silver, chain, n, num_blocks, backfill_batches=1):
    """One flow run against a node whose head is the chain's n-th block."""
    blocks, txs = chain
    return data_pipeline(
        spark,
        "http://node",
        landing,
        silver,
        num_blocks=num_blocks,
        backfill_batches=backfill_batches,
        fetch=make_mock_rpc(blocks[:n], txs),
    )


def _rows(spark, path) -> tuple[list[str], Counter]:
    """A silver table as (sorted columns, row multiset); mergeSchema
    unifies the wide `events` columns of batches appended apart."""
    df = spark.read.option("mergeSchema", "true").parquet(path)
    cols = sorted(df.columns)
    return cols, Counter(tuple(r) for r in df.select(cols).collect())


@pytest.fixture
def parse_calls(monkeypatch):
    """The bronze file lists each `parse.run` call parsed."""
    calls = []
    real = P.parse_tables

    def spy(spark, blocks_path, txs_path):
        calls.append((list(blocks_path), list(txs_path)))
        return real(spark, blocks_path, txs_path)

    monkeypatch.setattr(P, "parse_tables", spy)
    return calls


def _ledger(silver: str) -> dict:
    with open(os.path.join(silver, P.LEDGER)) as f:
        return json.load(f)


def test_incremental_silver_equals_full_rebuild(spark, tmp_path, chain, parse_calls):
    """A from-empty run with backfill, then two forward syncs, each parsing
    only the files it landed: silver equals a full rebuild of the same
    landing zone, row for row, in all four tables."""
    blocks, txs = chain
    landing, silver = str(tmp_path / "landing"), str(tmp_path / "silver")

    # 12 blocks: a 6-block forward window (2 files) + 2 backfill batches
    r = _flow(spark, landing, silver, chain, 12, num_blocks=5, backfill_batches=2)
    assert r.backfill_ranges and r.silver_counts["blocks"] == 12
    assert len(parse_calls[-1][0]) == 4  # from empty: every file
    for n in (20, 30):
        r = _flow(spark, landing, silver, chain, n, num_blocks=10)
        assert len(parse_calls[-1][0]) == 1  # only the batch just landed
        assert r.silver_counts["blocks"] == n
    assert not _ledger(silver)["pending"]
    assert r.silver_counts["tx_result"] == len(txs)

    full = str(tmp_path / "full")
    P.run(spark, *_bronze(landing), out_dir=full)
    assert len(parse_calls[-1][0]) == 6
    for name in P.SILVER_TABLES:
        assert _rows(spark, f"{silver}/{name}") == _rows(spark, f"{full}/{name}"), name
        assert r.silver_counts[name] == io.parquet_row_count(f"{full}/{name}"), name


def _landing_in_two_batches(tmp_path) -> tuple[str, str, list[str], int]:
    """Fixture bronze (20 blocks in two {start}_{end}.json batches):
    (blocks dir, txs dir, batch file names, tx count)."""
    bdir, tdir, _, txs = write_fixture_files(str(tmp_path / "landing"))
    return bdir, tdir, sorted(os.listdir(bdir)), len(txs)


def _parse_first_batch_then_land_second(spark, tmp_path, silver) -> tuple[str, str, int]:
    """Silver holding the first fixture batch, with the second batch landed
    after it: (blocks dir, txs dir, tx count of both batches)."""
    bdir, tdir, names, n_txs = _landing_in_two_batches(tmp_path)
    held = tmp_path / "held"
    held.mkdir()
    for d in (bdir, tdir):
        os.rename(os.path.join(d, names[1]), held / f"{os.path.basename(d)}_{names[1]}")
    P.run(spark, bdir, tdir, out_dir=silver)
    for d in (bdir, tdir):
        os.rename(held / f"{os.path.basename(d)}_{names[1]}", os.path.join(d, names[1]))
    return bdir, tdir, n_txs


def _assert_silver_is_bronze_truth(spark, silver: str, n_txs: int) -> None:
    assert io.parquet_row_count(f"{silver}/blocks") == 20
    assert io.parquet_row_count(f"{silver}/tx_result") == n_txs
    heights = spark.read.parquet(f"{silver}/blocks").select("height")
    assert heights.distinct().count() == heights.count() == 20
    hashes = spark.read.parquet(f"{silver}/tx_result").select("hash")
    assert hashes.distinct().count() == hashes.count() == n_txs


def _persisted_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _json_scans(spark, group: str, dirs: tuple[str, ...]) -> dict[str, int]:
    """For each bronze directory, the distinct `Scan json` operators over
    its files in the SQL executions of a job group's jobs. A cached frame's
    plan shows under every InMemoryTableScan that reads it, so an operator
    is told apart by its metrics' accumulator, not by its plan node."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    execs = store.executionsList(max(n - 64, 0), min(n, 64))
    scans: dict[str, set[int]] = {d: set() for d in dirs}
    for i in range(execs.size()):
        ex = execs.apply(i)
        ex_jobs = ex.jobs().keys().toSeq()
        if not any(ex_jobs.apply(k) in jobs for k in range(ex_jobs.size())):
            continue
        nodes = store.planGraph(ex.executionId()).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if node.name().strip() != "Scan json":
                continue
            acc = node.metrics().apply(0).accumulatorId()
            for d in dirs:
                if f"{d}/" in node.desc():
                    scans[d].add(acc)
    return {d: len(accs) for d, accs in scans.items()}


def test_append_parses_each_bronze_file_once(spark, tmp_path):
    """One append reads its batch's blocks JSON and txs JSON with one scan
    each: all four tables and the pivot-key discovery derive from the two
    cached parsed frames."""
    silver = str(tmp_path / "silver")
    bdir, tdir, n_txs = _parse_first_batch_then_land_second(spark, tmp_path, silver)
    sc = spark.sparkContext
    group = f"parse-once-{tmp_path.name}"
    sc.setJobGroup(group, "one append")
    # scan nodes abbreviate their file paths past this length
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    try:
        P.run(spark, bdir, tdir, out_dir=silver)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert _json_scans(spark, group, (bdir, tdir)) == {bdir: 1, tdir: 1}
    _assert_silver_is_bronze_truth(spark, silver, n_txs)


def test_failed_append_then_rerun_does_not_duplicate(spark, tmp_path, monkeypatch):
    """A write that fails after some tables were appended leaves the ledger
    pending; the rerun rebuilds silver instead of appending twice."""
    silver = str(tmp_path / "silver")
    bdir, tdir, n_txs = _parse_first_batch_then_land_second(spark, tmp_path, silver)

    real = io.write_partitioned

    def fail_third(df, path, *a, **kw):
        if path.endswith("/log_attributes"):
            raise OSError("disk full")
        real(df, path, *a, **kw)

    monkeypatch.setattr(io, "write_partitioned", fail_third)
    persisted = _persisted_rdds(spark)
    threads = set(threading.enumerate())
    with pytest.raises(OSError, match="disk full"):
        P.run(spark, bdir, tdir, out_dir=silver)
    # the failed run unpersisted its parsed frames and joined every writer
    assert _persisted_rdds(spark) <= persisted
    assert not [t for t in threading.enumerate() if t not in threads]
    assert _ledger(silver)["pending"]
    assert io.parquet_row_count(f"{silver}/blocks") == 20  # appended, uncommitted
    monkeypatch.setattr(io, "write_partitioned", real)

    P.run(spark, bdir, tdir, out_dir=silver)
    assert not _ledger(silver)["pending"]
    _assert_silver_is_bronze_truth(spark, silver, n_txs)


def test_append_compacts_the_partitions_it_grew(spark, tmp_path, monkeypatch):
    """The two fixture batches share a day: with a one-file bound, appending
    the second rewrites that partition into one file (merging the `events`
    columns of both batches), and silver still equals a full rebuild."""
    monkeypatch.setattr(P, "MAX_PARTITION_FILES", 1)
    silver, full = str(tmp_path / "silver"), str(tmp_path / "full")
    bdir, tdir, _ = _parse_first_batch_then_land_second(spark, tmp_path, silver)
    before = {name: io.partition_files(f"{silver}/{name}") for name in P.SILVER_TABLES}
    P.run(spark, bdir, tdir, out_dir=silver)
    P.run(spark, bdir, tdir, out_dir=full)
    for name in P.SILVER_TABLES:
        after = io.partition_files(f"{silver}/{name}")
        assert set(before[name]) & set(after), name  # a day both batches wrote
        # one file in every partition the append wrote to; the rest untouched
        assert all(n == 1 or before[name].get(p) == n for p, n in after.items()), name
        assert _rows(spark, f"{silver}/{name}") == _rows(spark, f"{full}/{name}"), name


def test_crash_mid_partition_swap_then_rerun_rebuilds(spark, tmp_path, monkeypatch):
    """A crash between the two renames of a partition swap leaves that
    partition missing and the ledger pending; the rerun rebuilds silver."""
    monkeypatch.setattr(P, "MAX_PARTITION_FILES", 1)
    silver = str(tmp_path / "silver")
    bdir, tdir, n_txs = _parse_first_batch_then_land_second(spark, tmp_path, silver)
    real_rename = os.rename

    def killed_after_backup(src, dst):
        real_rename(src, dst)
        if "_compact_backup" in dst:
            raise OSError("killed")

    monkeypatch.setattr(io.os, "rename", killed_after_backup)
    with pytest.raises(OSError, match="killed"):
        P.run(spark, bdir, tdir, out_dir=silver)
    monkeypatch.undo()
    assert _ledger(silver)["pending"]
    assert io.parquet_row_count(f"{silver}/blocks") < 20  # a partition is gone
    with pytest.raises(RuntimeError, match="crashed"):  # its backup is kept
        io.compact_partitions(spark, f"{silver}/blocks", list(io.partition_files(f"{silver}/blocks")))

    P.run(spark, bdir, tdir, out_dir=silver)
    assert not _ledger(silver)["pending"]
    _assert_silver_is_bronze_truth(spark, silver, n_txs)


def test_lost_silver_table_is_restored_before_append(spark, tmp_path, parse_calls):
    """A silver table deleted outright forces a full rebuild, with or
    without new bronze."""
    silver = str(tmp_path / "silver")
    bdir, tdir, n_txs = _parse_first_batch_then_land_second(spark, tmp_path, silver)
    table = f"{silver}/tx_result"
    shutil.rmtree(table)

    P.run(spark, bdir, tdir, out_dir=silver)
    assert len(parse_calls[-1][0]) == 2
    _assert_silver_is_bronze_truth(spark, silver, n_txs)

    shutil.rmtree(table)  # no new bronze: still a rebuild, not a no-op
    assert P.run(spark, bdir, tdir, out_dir=silver)
    assert len(parse_calls[-1][0]) == 2
    _assert_silver_is_bronze_truth(spark, silver, n_txs)


@pytest.mark.parametrize("change", ["rewrite", "delete"])
def test_changed_bronze_forces_full_rebuild(spark, tmp_path, parse_calls, change):
    """A ledgered bronze file rewritten or deleted makes the next parse a
    full rebuild of what the landing zone now holds."""
    bdir, tdir, names, _ = _landing_in_two_batches(tmp_path)
    silver = str(tmp_path / "silver")
    P.run(spark, bdir, tdir, out_dir=silver)
    with open(os.path.join(bdir, names[0])) as f:
        lines = f.readlines()
    if change == "rewrite":  # drop the batch's last block
        with open(os.path.join(bdir, names[0]), "w") as f:
            f.writelines(lines[:-1])
        want = 20 - 1
    else:  # drop the whole batch
        os.remove(os.path.join(bdir, names[0]))
        os.remove(os.path.join(tdir, names[0]))
        want = 20 - len(lines)

    P.run(spark, bdir, tdir, out_dir=silver)
    assert len(parse_calls) == 2
    assert len(parse_calls[-1][0]) == len(os.listdir(bdir))
    assert io.parquet_row_count(f"{silver}/blocks") == want
    assert spark.read.parquet(f"{silver}/blocks").count() == want
