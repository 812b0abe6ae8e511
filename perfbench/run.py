"""Pipeline benchmark for bread-spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload {sync,catalog} \\
        --seed N --seconds S --trace {0,1}

It starts one Spark session through `bread_spark.session.get_spark` on
``local[nproc]``, sets up the workload from the seed, repeats its operation
untimed until pass times settle, runs its operations in a closed loop for S
seconds and checks every output after the timed region.
The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (END_TO_END); with
``--trace 1`` they are the per-layer ones (workloads.PER_LAYER), taken from
spans around the calls into each layer. A traced run alternates untraced and
traced operations, so it also reports the tracing overhead, and writes its
spans as JSONL under ``.bench_work/``.

Everything the run writes stays under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
    "read_p50_ms": "ms",
    "peak_rss_mb": "MB",
}
HEAP = "1g"  # the driver JVM's heap, which in local mode runs the tasks too
TIME_LIMIT_S = 170  # the whole run, set-up included
MIN_OPS = 3  # op_s is the median of at least three operations
# warm-up: untimed operations until two in a row differ by less than
# SETTLED, and at most WARM_UP_MAX of them
SETTLED = 0.10
WARM_UP_MAX = 3


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def pin_environment(work: str) -> None:
    """Launch settings, set before the JVM starts: every core, scratch dirs
    inside the checkout, the checkout on Python workers' path, and a heap
    of fixed size (G1 otherwise grows it by its own timing, which moved
    peak RSS by a third between runs)."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.getcwd(), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--conf "
        + shlex.quote(f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Xms{HEAP}")
        + " "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python driver plus its JVM, from /proc."""
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    total_kb = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


class Run:
    """One invocation: session, tracer, work dir and the tallies."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float, t_start: float):
        self.t_start = t_start
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.read_ms: list[float] = []
        self.op_s: list[tuple[float, bool]] = []  # (seconds, traced)
        self.layers: list[dict[str, float]] = []
        self.setup_s = 0.0
        self.warm_up_s: list[float] = []
        self.steal_share = 0.0

    def fail(self, what: str, err) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(f"{what}: {err!r}"[:300])

    def warm_up(self, workload) -> None:
        """Untimed operations until pass time settles. Their outputs are
        checked with the rest; their read times are dropped."""
        last = None
        for _ in range(WARM_UP_MAX):
            wall = workload.op(False)
            self.warm_up_s.append(wall)
            if last is not None and abs(wall - last) < SETTLED * last:
                break
            last = wall
        self.read_ms.clear()

    def loop(self, workload) -> None:
        """Closed loop: one operation after another until `seconds` have
        passed and at least MIN_OPS have run. A traced run alternates
        untraced and traced operations."""
        tracer = self.tracer
        self.setup_s = time.perf_counter() - self.t_start
        deadline = time.perf_counter() + self.seconds
        steal0, total0 = cpu_ticks()
        i = 0
        while i < MIN_OPS or time.perf_counter() < deadline:
            traced = tracer.active and i % 2 == 1
            tracer.enabled = traced
            since = len(tracer.spans)
            wall = workload.op(traced)
            tracer.enabled = False
            self.op_s.append((wall, traced))
            if traced:
                self.layers.append(workload.layer(since, wall))
            i += 1
        steal1, total1 = cpu_ticks()
        self.steal_share = (steal1 - steal0) / max(total1 - total0, 1)

    def metrics(self, trace: bool) -> dict[str, dict]:
        from workloads import PER_LAYER

        if not trace:
            values = {
                "setup_s": self.setup_s,
                "op_s": statistics.median(s for s, _ in self.op_s),
                "read_p50_ms": statistics.median(self.read_ms),
                "peak_rss_mb": peak_rss_mb(self.spark),
            }
            return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        values = {k: statistics.fmean(m.get(k, 0.0) for m in self.layers) for k in PER_LAYER}
        traced = [s for s, t in self.op_s if t]
        untraced = [s for s, t in self.op_s if not t]
        values["trace.op_s"] = statistics.median(traced)
        values["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
        return {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()}


def unit_of(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_per_query"):
        return "bytes"
    if name.endswith("ratio") or name.endswith("reads"):
        return "ratio"
    return "count"


def start_watchdog(limit_s: float) -> None:
    """Exit without a result if the run overruns, stopping the JVM first."""

    def fire() -> None:
        time.sleep(limit_s)
        print(f"perfbench: run exceeded {limit_s:.0f} s", file=sys.stderr, flush=True)
        try:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None and getattr(gw, "proc", None) is not None:
                gw.proc.kill()
                gw.proc.wait(10)
        finally:
            os._exit(3)

    threading.Thread(target=fire, daemon=True).start()


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(10)


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter() - process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("sync", "catalog"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "bread_spark", "pipeline.py")):
        print("perfbench: run from the root of a bread-spark checkout", file=sys.stderr)
        return 2
    start_watchdog(TIME_LIMIT_S)
    bench_root = os.path.join(root, ".bench_work")
    work = os.path.join(bench_root, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work)
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)

    from bread_spark.session import get_spark
    from spans import Tracer
    from workloads import WORKLOADS

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(spark, active=bool(args.trace))
        run = Run(spark, tracer, work, args.seed, args.seconds, t_start)
        workload = WORKLOADS[args.workload](run)
        workload.setup()
        run.warm_up(workload)
        run.loop(workload)
        tracer.restore()
        workload.verify()
        metrics = run.metrics(bool(args.trace))
        if args.trace:
            tracer.write_jsonl(
                os.path.join(bench_root, f"spans-{args.workload}-{args.seed}.jsonl")
            )
    finally:
        stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    for e in run.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed {args.seed}: warm-up "
        f"{' '.join(f'{s:.2f}' for s in run.warm_up_s)} s, {len(run.op_s)} operations "
        f"{' '.join(f'{s:.2f}' for s, _ in run.op_s)} s, "
        f"{len(run.read_ms)} reads, host CPU steal {run.steal_share:.1%} while timed",
        file=sys.stderr,
    )
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
