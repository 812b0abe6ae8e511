"""`bench.py` wiring, checked without a Spark action: every row it times
exists, the frozen gate set is benched, and the summary line fits the
~2000-char stdout tail a bench harness keeps. A broken entry would otherwise surface
only as a KeyError after the bench's long cold pass."""

from __future__ import annotations

import json

import bench
from bread_spark.queries import QUERIES


def test_bench_rows_are_catalog_entries():
    assert set(bench.BENCH_ROUNDS) - {"parse_run"} <= set(QUERIES)


def test_frozen_set_is_benched():
    assert bench.FROZEN_R5_SET <= set(bench.BENCH_ROUNDS)


def test_summary_fits_the_tail_capture():
    timings = {name: 1000.0 + i / 1000 for i, name in enumerate(bench.BENCH_ROUNDS)}
    line = bench._summary(
        timings, cold_total=99999.999, warm_passes=3, probe_1c=1.234, probe_mc=1.234, sf=0.1
    )
    assert len(line) < 1800
    summary = json.loads(line)
    assert summary["metric"] and summary["value"] == round(sum(timings.values()), 3)
    assert summary["subtotals"]["frozen_r5_set"] == round(
        sum(timings[n] for n in bench.FROZEN_R5_SET), 3
    )
