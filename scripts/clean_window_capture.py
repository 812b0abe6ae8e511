#!/usr/bin/env python3
"""Clean-window bench capture poller (VERDICT r13 #1).

Polls the DECISIONS.md #13 md5 probe pair every POLL_SECS; after
CLEAN_NEEDED consecutive clean polls (probe_1c <= 1.10, probe_mc <=
1.06 — the r13 gate) PLUS a Spark sentinel bracket within
CW_SENTINEL_MAX seconds (r14 wave 2: the md5 pair is blind to the
bandwidth noise mode, so the gate alone fired into a x1.29 window),
launches one full `python bench.py` capture and exits. Writes a JSONL poll log so the poll budget is auditable either
way. If the budget (MAX_POLLS) runs out with no window, exits 2 and the
round commits the documented fallback bundle instead (8-core capture +
per-segment probes + frozen-set normalization).

Usage:  nohup python scripts/clean_window_capture.py <out.log> &
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

POLL_SECS = int(os.environ.get("CW_POLL_SECS", "480"))
CLEAN_NEEDED = int(os.environ.get("CW_CLEAN_NEEDED", "2"))
MAX_POLLS = int(os.environ.get("CW_MAX_POLLS", "40"))
GATE_1C = float(os.environ.get("CW_GATE_1C", "1.10"))
GATE_MC = float(os.environ.get("CW_GATE_MC", "1.06"))
# Spark sentinel bracket (CLAUDE.md / DECISIONS #13): the md5 probes are
# blind to the bandwidth-shaped noise mode (r10, and again r14 wave 2:
# probes 0.88/0.85 while a 231-query capture ran x1.29 the clean floor).
# After the md5 streak passes, run the documented sentinel suite and
# require its wall within CW_SENTINEL_MAX seconds (clean-host solo
# reference ~31 s) before firing the bench. 0 disables.
SENTINEL_MAX = float(os.environ.get("CW_SENTINEL_MAX", "35"))


def _sentinel_wall() -> float:
    """Sentinel suite wall time; inf when it fails or hangs past
    4 × SENTINEL_MAX (a hung sentinel is a failed bracket)."""
    t0 = time.time()
    try:
        rc = subprocess.call(
            [
                sys.executable,
                "-m",
                "pytest",
                os.path.join(ROOT, "tests", "test_models_stats.py"),
                "-x",
                "-q",
                "--no-header",
            ],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
            cwd=ROOT,
            timeout=4 * SENTINEL_MAX,
        )
    except subprocess.TimeoutExpired:
        return float("inf")
    wall = time.time() - t0
    return wall if rc == 0 else float("inf")


def main() -> int:
    log_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/clean_window_poll.jsonl"
    from bench import _host_probes

    streak = 0
    with open(log_path, "a") as log:
        for i in range(MAX_POLLS):
            p1, pmc = _host_probes()
            clean = p1 <= GATE_1C and pmc <= GATE_MC
            streak = streak + 1 if clean else 0
            rec = {"t": time.time(), "i": i, "p1": p1, "pmc": pmc, "streak": streak}
            if clean and streak >= CLEAN_NEEDED and SENTINEL_MAX:
                sw = _sentinel_wall()
                rec["sentinel_wall"] = round(sw, 1)
                if sw > SENTINEL_MAX:
                    streak = 0  # md5-blind bandwidth mode — keep polling
                    rec["streak"] = 0
            log.write(json.dumps(rec) + "\n")
            log.flush()
            if streak >= CLEAN_NEEDED:
                rc = subprocess.call(
                    [sys.executable, os.path.join(ROOT, "bench.py")],
                    stdout=open("/tmp/clean_window_bench.log", "w"),
                    stderr=subprocess.STDOUT,
                    cwd=ROOT,
                )
                log.write(json.dumps({"t": time.time(), "bench_rc": rc}) + "\n")
                return rc
            time.sleep(POLL_SECS)
    return 2


if __name__ == "__main__":
    sys.exit(main())
