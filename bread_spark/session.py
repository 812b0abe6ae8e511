"""SparkSession factory tuned for the target deployment.

Local testing runs on ``local[N]`` but every setting here is chosen for a
multi-executor cluster reading ~100 TB:

- AQE on (runtime re-plan: broadcast conversion, skew-join splitting,
  partition coalescing) so plans written at sf0.01 survive 1000x scale-up.
  One exception: `serve.QueryService` runs a cache miss whose plan reads
  at most 8 MB (and at most one advisory partition) in a clone of the
  session with one shuffle partition, AQE off and whole-stage codegen
  off, because on a query that small AQE's stage-by-stage re-planning
  and the compile of its literal-specific code are most of the latency,
  and AQE's coalescing would leave one partition anyway.
- Shuffle partitions sized by env; at cluster scale this should be
  ~2-3x total cores (AQE coalesces small ones back down).
- Arrow enabled so the few Pandas-UDF operators (multimodal decode,
  custom stateful ops) move columnar batches, never rows.
- Parquet pushdown/pruning left at defaults (on) — models are written so
  filters and projections reach the scan (verified in tests via explain).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Sequence, TypeVar

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

T = TypeVar("T")

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "bread-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    return _builder(app_name, master, shuffle_partitions).getOrCreate()


def _builder(
    app_name: str,
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession.Builder:
    """The one session config every entry point starts from."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # coalescePartitions.parallelismFirst stays at its default (true):
        # measured locally, size-first coalescing starved the shingle
        # self-join of parallelism (+2.3s) for ~0.1s saved on tiny shuffles.
        # On a production cluster with large shuffles, revisit per job.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # files.maxPartitionBytes default 128MB is right for the target;
        # local test parquet is tiny so it makes one partition per file.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )


def run_concurrently(spark: SparkSession, actions: Sequence[Callable[[], T]]) -> list[T]:
    """Run each action on a thread of its own and return their results in
    order, so independent Spark jobs share the cores instead of queueing.

    A small batch makes every job a one-task job on one core; side by
    side, the scheduler runs their tasks at once. Each thread starts with
    a copy of the caller's local properties and session tags
    (`inheritable_thread_target`, wrapped once per action so no two
    threads share one copy), so job groups and descriptions set by the
    caller cover the threads' jobs too. Every thread is joined before the
    first error, in `actions` order, is re-raised.
    """
    with ThreadPoolExecutor(max_workers=len(actions)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(a)) for a in actions]
    return [f.result() for f in futures]
