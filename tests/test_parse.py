"""Parse-path tests: bronze JSON → four silver tables as `parse.run`
writes them, checked against pure-Python expected values computed from
the fixture objects (the "implement the intent" semantics of SURVEY.md
R5/S5 — not the reference's bugs), plus the EAV⟷wide pivot property and
idempotence. The EAV attributes the `events` pivot consumes are checked
through the frame helpers `parse_tables` builds them with."""

from __future__ import annotations

import base64
import datetime
import json
from collections import Counter

import pytest

from bread_spark import parse as P
from tests.fixtures import write_fixture_files


@pytest.fixture(scope="module")
def fixture_env(spark, tmp_path_factory):
    tmpdir = tmp_path_factory.mktemp("bronze")
    bdir, tdir, blocks, txs = write_fixture_files(str(tmpdir))
    silver = str(tmp_path_factory.mktemp("parsed") / "silver")
    return {
        "bdir": bdir,
        "tdir": tdir,
        "blocks": blocks,
        "txs": txs,
        "raw_txs": P.read_raw_txs(spark, tdir),
        "silver": silver,
        "tables": P.run(spark, bdir, tdir, out_dir=silver),
    }


def _silver(spark, silver: str, name: str):
    """A silver table read back as the flow's readers read it."""
    return spark.read.option("mergeSchema", "true").parquet(f"{silver}/{name}")


def _events_attrs(raw_txs):
    """The EAV attributes the `events` pivot consumes."""
    return P._events_attrs(P.parse_txs(raw_txs))


def _expected_time(time_str: str) -> datetime.datetime:
    # µs truncation of the ns RFC3339 string — the documented divergence
    base, frac = time_str[:-1].split(".")
    us = int(frac[:6].ljust(6, "0"))
    return datetime.datetime.fromisoformat(base).replace(microsecond=us)


def test_parse_blocks_values(spark, fixture_env):
    out = {r["height"]: r for r in _silver(spark, fixture_env["silver"], "blocks").collect()}
    assert len(out) == len(fixture_env["blocks"])
    for b in fixture_env["blocks"]:
        h = b["block"]["header"]
        row = out[int(h["height"])]
        assert row["chain_id"] == h["chain_id"]
        assert row["proposer_address"] == h["proposer_address"]
        t = _expected_time(h["time"])
        assert row["time"].replace(tzinfo=None) == t
        # partition values read back typed (day a date, year an int)
        assert str(row["day"]) == t.strftime("%Y-%m-%d")
        assert str(row["month"]) == t.strftime("%Y-%m")
        assert str(row["year"]) == t.strftime("%Y")


def test_parse_tx_result_values(spark, fixture_env):
    out = {r["hash"]: r for r in _silver(spark, fixture_env["silver"], "tx_result").collect()}
    assert len(out) == len(fixture_env["txs"])
    for tx in fixture_env["txs"]:
        row = out[tx["hash"]]
        assert row["height"] == int(tx["height"])
        assert row["gas_wanted"] == tx["tx_result"]["gas_wanted"]
        assert row["gas_used"] == tx["tx_result"]["gas_used"]
        assert row["code"] == tx["tx_result"]["code"]
        assert row["codespace"] == tx["tx_result"]["codespace"]


def _expected_log_attrs(txs):
    rows = set()
    for tx in txs:
        try:
            logs = json.loads(tx["tx_result"]["log"])
        except json.JSONDecodeError:
            continue  # safe-parse → no rows (from_json yields NULL array)
        for msg in logs:
            for ev in msg["events"]:
                for attr in ev["attributes"]:
                    rows.add(
                        (tx["hash"], int(tx["height"]), msg["msg_index"], ev["type"], attr["key"], attr["value"])
                    )
    return rows


def test_parse_log_attributes_values(spark, fixture_env):
    got = {
        (r["hash"], r["height"], r["msg_index"], r["type"], r["key"], r["value"])
        for r in _silver(spark, fixture_env["silver"], "log_attributes").collect()
    }
    assert got == _expected_log_attrs(fixture_env["txs"])


def _b64d(s: str) -> str:
    return base64.b64decode(s).decode()


def _expected_events_attrs(txs):
    """One row per (tx, combined_key, occurrence) with decoded value —
    the R5 'intent' semantics."""
    rows = {}
    for tx in txs:
        seen: dict[str, int] = {}
        per_event_occ: dict[int, int] = {}
        for pos, ev in enumerate(tx["tx_result"]["events"]):
            # occurrence is per combined_key; all attrs of one event share
            # the event's rank among events with the same (type, key)
            for attr in ev["attributes"]:
                ck = ev["type"] + "_" + _b64d(attr["key"])
                occ = seen.get(ck, 0)
                seen[ck] = occ + 1
                rows[(tx["hash"], int(tx["height"]), ck, occ)] = _b64d(attr["value"])
    return rows


def test_parse_events_attrs_values(fixture_env):
    got = {
        (r["hash"], r["height"], r["combined_key"], r["occurrence"]): r["value"]
        for r in _events_attrs(fixture_env["raw_txs"]).collect()
    }
    assert got == _expected_events_attrs(fixture_env["txs"])


def test_events_wide_pivot_roundtrip(spark, fixture_env):
    """Property (SURVEY §5): silver wide events pivoted back to long must
    equal the EAV attrs — pivot(R4) ∘ melt ≡ identity."""
    attrs = _events_attrs(fixture_env["raw_txs"])
    wide = _silver(spark, fixture_env["silver"], "events")
    key_cols = {"hash", "height", "occurrence", "time", "day", "month", "year"}
    value_cols = [c for c in wide.columns if c not in key_cols]
    melted = set()
    for r in wide.collect():
        for c in value_cols:
            if r[c] is not None:
                melted.add((r["hash"], r["height"], r["occurrence"], c, r[c]))
    eav = {
        (r["hash"], r["height"], r["occurrence"], r["combined_key"], r["value"])
        for r in attrs.collect()
    }
    assert melted == eav


def test_run_end_to_end_partitioned(spark, fixture_env):
    tables = fixture_env["tables"]
    # read back the partitioned parquet: partition cols materialize
    blocks_rt = spark.read.parquet(f"{fixture_env['silver']}/blocks")
    assert blocks_rt.count() == tables["blocks"].count()
    assert {"year", "month", "day"} <= set(blocks_rt.columns)
    # joined time columns present on every silver table
    for t in ("tx_result", "log_attributes", "events"):
        assert {"time", "day", "month", "year"} <= set(tables[t].columns), t
    # J1 inner join keeps every tx (all fixture heights have blocks)
    assert tables["tx_result"].count() == len(fixture_env["txs"])


def test_parse_idempotent(spark, fixture_env, tmp_path):
    """Same input parsed twice ⇒ identical silver tables (S5 intent)."""
    again = str(tmp_path / "silver")
    P.run(spark, fixture_env["bdir"], fixture_env["tdir"], out_dir=again)
    for name in P.SILVER_TABLES:
        a, b = _silver(spark, fixture_env["silver"], name), _silver(spark, again, name)
        cols = sorted(a.columns)
        assert sorted(b.columns) == cols, name
        rows = [Counter(map(tuple, df.select(cols).collect())) for df in (a, b)]
        assert rows[0] == rows[1], name


def test_corrupt_record_dead_letter(spark, tmp_path):
    """Malformed bronze lines split into a repairable dead-letter side
    instead of silently nulling or failing the job."""
    import json as _json

    from bread_spark.parse import read_raw_with_corrupt
    from bread_spark.schemas import RAW_BLOCK_SCHEMA
    from tests.fixtures import make_blocks

    blocks = make_blocks(5)
    p = tmp_path / "blocks"
    p.mkdir()
    with open(p / "1_5.json", "w") as f:
        for b in blocks[:3]:
            f.write(_json.dumps(b) + "\n")
        f.write("{this is not json\n")
        for b in blocks[3:]:
            f.write(_json.dumps(b) + "\n")
        f.write("[1,2,3\n")

    good, bad = read_raw_with_corrupt(spark, str(p), RAW_BLOCK_SCHEMA)
    assert good.count() == 5
    bad_rows = bad.collect()
    assert len(bad_rows) == 2
    assert {r["raw_line"] for r in bad_rows} == {"{this is not json", "[1,2,3"}
    assert all(r["source_file"].endswith("1_5.json") for r in bad_rows)
    # the good side parses identically to the plain reader on clean data
    from bread_spark.parse import parse_blocks

    assert parse_blocks(good).count() == 5


def test_events_attrs_matches_window_plan(fixture_env):
    """The zero-shuffle in-array occurrence must be row-identical to the
    window plan it replaced (row_number over (hash, height, combined_key)
    ordered by (event_pos, attr_pos))."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    raw_txs = fixture_env["raw_txs"]
    got = sorted(tuple(r) for r in _events_attrs(raw_txs).collect())

    ev = raw_txs.select(
        "hash",
        F.col("height").cast("long").alias("height"),
        F.posexplode("tx_result.events").alias("event_pos", "event"),
    )
    attrs = ev.select(
        "hash", "height", "event_pos",
        F.col("event.type").alias("type"),
        F.posexplode("event.attributes").alias("attr_pos", "attr"),
    ).select(
        "hash", "height", "event_pos", "attr_pos", "type",
        F.unbase64(F.col("attr.key")).cast("string").alias("key"),
        F.unbase64(F.col("attr.value")).cast("string").alias("value"),
    ).withColumn("combined_key", F.concat_ws("_", "type", "key"))
    w = Window.partitionBy("hash", "height", "combined_key").orderBy("event_pos", "attr_pos")
    expected = sorted(
        tuple(r)
        for r in attrs.select(
            "hash", "height", "event_pos", "attr_pos", "type", "key", "value",
            "combined_key",
            (F.row_number().over(w) - F.lit(1)).cast("long").alias("occurrence"),
        ).collect()
    )
    assert got == expected


def test_events_attrs_is_shuffle_free(fixture_env):
    """The EAV parse plan must contain no Exchange — it is a pure map
    over the scan (the 100 TB contract the docstring claims)."""
    plan = _events_attrs(fixture_env["raw_txs"])._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_fixture_block_times_parse_and_increase():
    """`make_blocks` emits valid, strictly increasing block times past the
    end of a month (the bench builds 30,000 blocks), and the first 248
    blocks — the ones that fit in July — keep their exact earlier
    strings."""
    import random

    from tests.fixtures import make_blocks

    times = [b["block"]["header"]["time"] for b in make_blocks(300)]
    parsed = [
        (datetime.datetime.strptime(t[:19], "%Y-%m-%dT%H:%M:%S"), int(t[20:29]))
        for t in times
    ]
    assert all(t[19] == "." and t[29:] == "Z" for t in times)
    assert all(a < b for a, b in zip(parsed, parsed[1:]))
    rng = random.Random(42)
    july = [
        f"2023-07-{1 + i // 8:02d}T{(i * 3) % 24:02d}:34:56."
        f"{rng.randrange(10**9):09d}Z"
        for i in range(248)
    ]
    assert times[:248] == july
