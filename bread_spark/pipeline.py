"""End-to-end flow driver — the orchestration analog of the reference's
Prefect flow (pipelines/pipeline.py:111-131, SURVEY.md §2.9 S7, §3 entry
point A).

Stages, in the reference's order but with the boundaries redrawn for Spark:

1. plan     — chain head + landing-zone watermark → forward sync range
2. extract  — paginated RPC scan → raw JSON landing zone (driver-side;
              the source is a paginated HTTP API, not a log — Spark
              enters at the file boundary)
3. backfill — chunked backward ranges below the watermark
4. parse    — the landing JSON not yet in silver → four silver tables,
              appended as partitioned parquet (replaces the pandas
              DataParser), a partition compacted once appends push it
              past a file bound; a parsed-file ledger at the silver root
              names the files already parsed, and a full rebuild runs
              when it can't vouch for silver. The batch is parsed once
              and the four tables are written side by side (`parse.run`)
5. models   — gold DAG built in-session over the silver tables
              (replaces the `make dbt-run` subprocess hop), with the
              dbt-style unique/not_null assertions inline as one pass;
              the three model tables are written side by side

Row counts come from the parquet footers of what was written, not from
re-reading the tables.

Every stage is resumable: extraction is watermark-planned, parse resumes
from its ledger, and gold models are deterministic functions of
silver — rerunning any suffix of the flow is idempotent.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import partial
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from . import parse as P
from .ingest import (
    Extractor,
    FetchFn,
    default_fetch,
    determine_backfill_range,
    determine_sync_range,
    get_chain_bounds,
    ingested_bounds,
    write_metadata,
)
from .io import parquet_row_count
# perfbench patches assert_unique and assert_not_null on this module to
# trace the gold checks, so both stay importable from here
from .models_ibc import (  # noqa: F401
    assert_not_null,
    assert_unique,
    assert_unique_not_null,
    tx_day_models,
    txs_per_day,
)
from .session import run_concurrently


@dataclass
class PipelineResult:
    sync_range: tuple[int, int] | None
    backfill_ranges: list[tuple[int, int]] = field(default_factory=list)
    silver_counts: dict[str, int] = field(default_factory=dict)
    gold_counts: dict[str, int] = field(default_factory=dict)
    metadata: dict[str, Any] = field(default_factory=dict)


def _gold_inputs(tx_result: DataFrame) -> DataFrame:
    # The legacy gold models (old_models/*) read a `timestamp` column from
    # the indexer schema; silver tx_result carries the same instant as
    # `time` (reference parse.py:224). Alias at the seam, not in storage.
    return tx_result.withColumnRenamed("time", "timestamp")


def build_gold(
    spark: SparkSession, silver_dir: str, gold_dir: str | None = None
) -> dict[str, DataFrame]:
    """Gold model DAG over silver parquet (the dbt-run analog, in-session).

    Materialization policy mirrors dbt_project.yml:33-37: models written as
    tables (parquet) when `gold_dir` is given, else returned as views —
    `saveAsTable` vs `createOrReplaceTempView` (SRC14). The three table
    writes run side by side (`session.run_concurrently`).
    """
    txs = _gold_inputs(spark.read.parquet(f"{silver_dir}/tx_result"))
    # one day-grain aggregate, cached: the three models project from it and
    # the dbt schema tests (SURVEY §2.12) check its day grain in one pass —
    # every model's `day` column is this one. One row per day fits one
    # partition, so each model writes one file (AQE does not coalesce a
    # cached plan).
    daily = txs_per_day(txs).coalesce(1).cache()
    try:
        assert_unique_not_null(daily, "day")
        models = tx_day_models(daily)
        if gold_dir:
            run_concurrently(
                spark,
                [
                    partial(df.write.mode("overwrite").parquet, f"{gold_dir}/{name}")
                    for name, df in models.items()
                ],
            )
        else:
            for name, df in models.items():
                df.createOrReplaceTempView(name)
    finally:
        daily.unpersist()
    return models


def data_pipeline(
    spark: SparkSession,
    rpc_url: str,
    landing_root: str,
    silver_dir: str,
    gold_dir: str | None = None,
    network: str = "testnet",
    num_blocks: int = 10_000,
    backfill_batches: int = 1,
    fetch: FetchFn = default_fetch,
) -> PipelineResult:
    """The full flow (reference data_pipeline, pipeline.py:111-131).

    `fetch` is the transport seam — tests inject a mock; production uses
    the retrying HTTP client. All Spark work is in two stages (parse,
    gold), each running its independent writes side by side
    (`session.run_concurrently`); everything HTTP stays on the driver
    where it belongs.
    """
    result = PipelineResult(sync_range=None)

    # 1. plan
    min_node, chain_head = get_chain_bounds(rpc_url, fetch)
    blocks_dir = f"{landing_root}/{network}/blocks"
    _, max_ingested = ingested_bounds(blocks_dir)
    sync = determine_sync_range(chain_head, min_node, max_ingested, num_blocks)
    ex = Extractor(rpc_url, landing_root, network=network, fetch=fetch)

    # 2. re-fetch the heights earlier scans gave up on (the watermark has
    #    moved past them); those that fail again stay dead-lettered
    ex.repair_dead_letter()

    # 3. extract forward
    if sync is not None:
        result.sync_range = (sync.start, sync.end)
        for lo, hi in sync.chunks(num_blocks):
            ex.run_range(lo, hi)

    # 4. backfill backward (bounded batches per flow run, like the
    #    reference's while-loop with its num_blocks step)
    min_ingested, _ = ingested_bounds(blocks_dir)
    for _ in range(backfill_batches):
        if min_ingested is None:
            break
        bf = determine_backfill_range(min_ingested, min_node, num_blocks)
        if bf is None:
            break
        ex.run_range(bf.start, bf.end)
        result.backfill_ranges.append((bf.start, bf.end))
        min_ingested = bf.start
    ex.flush_dead_letter()
    result.metadata = write_metadata(landing_root, network)

    # 5. parse the files landed since the last run into silver (a full
    #    rebuild when the parsed-file ledger can't vouch for silver)
    P.run(
        spark,
        blocks_path=blocks_dir,
        txs_path=f"{landing_root}/{network}/txs",
        out_dir=silver_dir,
    )
    result.silver_counts = {
        name: parquet_row_count(f"{silver_dir}/{name}") for name in P.SILVER_TABLES
    }

    # 6. gold models + assertions; counts from the written footers
    gold = build_gold(spark, silver_dir, gold_dir)
    result.gold_counts = {
        name: parquet_row_count(f"{gold_dir}/{name}") if gold_dir else df.count()
        for name, df in gold.items()
    }
    return result
