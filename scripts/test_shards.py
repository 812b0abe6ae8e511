#!/usr/bin/env python3
"""Default-tier accelerator: run the test suite as N concurrent pytest
subprocesses (VERDICT r10 #3's "pytest subprocess sharding" lever).

Why processes, not pytest-xdist: xdist isn't in the container, and
process-per-shard is actually the right isolation here — each shard owns
a private SparkSession (local[8], the measured-optimal tier master), so
4 shards saturate the 32 cores that a single local[8] session leaves
idle, without the cross-test scheduler interference a shared session
would add.

Placement is weight-balanced (greedy LPT).

Weights are AUTO-DERIVED (VERDICT r11 #7): every green run parses its
own per-test `--durations` lines, aggregates them per file, and writes
`scripts/.shard_weights.json`; the next run bin-packs from that
measurement. The static WEIGHTS table below is only the cold-start
fallback (and the floor for files the log hasn't seen), so the numbers
can no longer silently rot as files grow.

Each shard's output goes to a TEMP FILE, not a pipe (ADVICE r11: a
later shard that out-wrote the ~64 KB OS pipe buffer blocked on write
until its communicate() turn, serializing its remaining tests behind
earlier shards and inflating the wall the 600 s budget reads).

Safety audit (why concurrent shards can't collide):
- no Hive/derby metastore (session.py never enableHiveSupport);
- no test writes a managed table (saveAsTable); every test writes
  under its own tmp_path;
- materialize.py seam caches are per-process by construction.

Usage:
    python scripts/test_shards.py            # default tier, 4 shards
    BREAD_TEST_NIGHTLY=1 python scripts/test_shards.py   # full pass
    python scripts/test_shards.py -n 2       # fewer shards

Exit code: 0 iff every shard's pytest exits 0. Each shard runs with
-x -q; per-shard summary lines and the total wall clock print at the
end (the wall is the number the 600 s tier budget reads).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WEIGHTS_FILE = ROOT / "scripts" / ".shard_weights.json"

# Cold-start fallback (seconds, default tier, sentinel ~35 s host, r11)
# — used only when scripts/.shard_weights.json doesn't exist yet, and
# as a floor for files it hasn't measured. Unknown files default to 10.
WEIGHTS = {
    # r13 split files (clean-host estimates; the first green run
    # replaces these with harvested measurements)
    "test_oracle_q1.py": 70,
    "test_oracle_q2.py": 70,
    "test_oracle_q3.py": 70,
    "test_oracle_q4.py": 70,
    "test_oracle.py": 25,  # rows-only + protocol pins after the split
    "test_properties_models.py": 45,
    "test_scale_smoke_merge.py": 45,
    "test_scale_smoke_stats.py": 45,
    "test_plans.py": 90,  # now pays the catalog_frames build itself
    "test_fuzzy.py": 55,
    "test_recall.py": 50,
    "test_curation.py": 45,
    "test_scale_smoke.py": 45,
    "test_properties.py": 40,
    "test_sketch.py": 30,
    "test_multimodal.py": 30,
    "test_streaming_stats.py": 30,
    "test_training.py": 30,
    "test_span_dedup.py": 25,
    "test_warehouse.py": 25,
    "test_stats.py": 25,
    "test_models_stats.py": 25,
    "test_ltv.py": 20,
    "test_search.py": 20,
    "test_basket.py": 20,
}

# pytest --durations lines: "12.34s call     tests/test_x.py::test_y"
_DURATION_RE = re.compile(
    r"^\s*(\d+(?:\.\d+)?)s\s+(?:call|setup|teardown)\s+tests/(test_\w+\.py)::"
)


def _load_measured() -> dict[str, float]:
    if WEIGHTS_FILE.exists():
        try:
            parsed = json.loads(WEIGHTS_FILE.read_text())
            if not isinstance(parsed, dict):
                return {}
            return {str(k): float(v) for k, v in parsed.items()}
        except (ValueError, TypeError, AttributeError):
            return {}
    return {}


def _weight(f: str, measured: dict[str, float]) -> float:
    if f in measured:
        # static table stays a floor: a file whose slow tests all fell
        # under pytest's duration cutoff shouldn't bin-pack at ~0
        return max(measured[f], 0.5 * WEIGHTS.get(f, 0))
    if f in WEIGHTS:
        return WEIGHTS[f]
    return 10


def shard_files(n: int) -> list[list[str]]:
    measured = _load_measured()
    files = sorted(p.name for p in (ROOT / "tests").glob("test_*.py"))
    shards: list[list[str]] = [[] for _ in range(n)]
    loads = [0.0] * n
    # greedy LPT: heaviest first onto the lightest shard
    for f in sorted(files, key=lambda f: -_weight(f, measured)):
        i = loads.index(min(loads))
        shards[i].append(f)
        loads[i] += _weight(f, measured)
    return [s for s in shards if s]


def _harvest_weights(outputs: list[str]) -> None:
    """Aggregate per-test durations into per-file weights and persist
    them for the next run's bin-packing. Only called on a green run —
    a failed shard's timings are partial."""
    per_file: dict[str, float] = {}
    for out in outputs:
        for line in out.splitlines():
            m = _DURATION_RE.match(line)
            if m:
                per_file[m.group(2)] = per_file.get(m.group(2), 0.0) + float(m.group(1))
    if per_file:
        merged = _load_measured()
        merged.update({k: round(v, 1) for k, v in per_file.items()})
        WEIGHTS_FILE.write_text(json.dumps(merged, indent=1, sort_keys=True))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", "--shards", type=int, default=4)
    args = ap.parse_args()

    shards = shard_files(args.shards)
    t0 = time.perf_counter()
    procs = []
    for i, files in enumerate(shards):
        cmd = [
            sys.executable,
            "-m",
            "pytest",
            "-x",
            "-q",
            "--no-header",
            "--durations=0",
            "--durations-min=0.05",
            *[f"tests/{f}" for f in files],
        ]
        # temp file, not a pipe: shards write freely and never block on
        # a full pipe buffer waiting for their drain turn (ADVICE r11)
        sink = tempfile.TemporaryFile(mode="w+", encoding="utf-8")
        procs.append(
            (
                i,
                files,
                sink,
                subprocess.Popen(cmd, cwd=ROOT, stdout=sink, stderr=subprocess.STDOUT, text=True),
            )
        )

    failed = False
    outputs = []
    for i, files, sink, p in procs:
        p.wait()
        sink.seek(0)
        out = sink.read()
        sink.close()
        outputs.append(out)
        summary = [
            ln
            for ln in out.strip().splitlines()
            if ln.strip() and not _DURATION_RE.match(ln)
        ][-4:]
        print(f"--- shard {i} ({len(files)} files, exit {p.returncode}) ---")
        print("\n".join(summary))
        if p.returncode != 0:
            failed = True
            # full output only on failure, to keep the green path short
            print(out[-8000:])
    wall = time.perf_counter() - t0
    # harvest only default-tier runs: nightly walls would inflate the
    # weights the DEFAULT tier bin-packs (and budget-reads) with
    if not failed and not os.environ.get("BREAD_TEST_NIGHTLY"):
        _harvest_weights(outputs)
    print(f"=== total wall: {wall:.1f}s over {len(shards)} shards ===")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
